"""Scalar function surface (SURVEY.md §2.8) as native Spark expressions.

Submodules:

* ``ptbr`` — pt-BR money/number parsing, multi-format dates, CNJ process
  ids, CPF/CNPJ, currency/date rendering (reference
  ``crawler/crawler.py:99-250``, ``models/models.py:48-228``).
* ``slug`` — slugify / unslugify / unicode-escape decode (reference
  ``schemas/entity_mapping.py:7-28``, ``crawler/crawler.py:84-97``).
* ``urlkit`` — URL canonicalization and host extraction for the
  frontier and the seen-set.
* ``text`` — tokenization, quality scoring, n-gram language id,
  fingerprinting and shingles for the training-data operators.

Everything here returns a ``pyspark.sql.Column`` built from
``pyspark.sql.functions`` (JVM-side, whole-stage-codegen-able). The only
pandas UDF is accent stripping in ``slug`` (needs ``unicodedata``).
"""

from crawler_tjce_spark.functions import ptbr, slug, text, urlkit  # noqa: F401
