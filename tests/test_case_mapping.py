"""Case mapping runs through the JDK, not ICU (``session.ICU_CASE_MAPPINGS``).

``lower``/``upper`` on plain strings use ``UTF8String.toLowerCase`` /
``toUpperCase``: a byte loop for ASCII, the JDK's full case mapping in
the JVM's default locale otherwise (one without special casing). These tests pin what that contract
gives on non-ASCII text, the code points where JDK 17 and ICU 77 part,
and that lowercasing never initializes the ICU class whose static
initializer costs seconds on the first ``lower()`` of a JVM.
"""

from __future__ import annotations

import pyspark.sql.functions as F

# Greek final sigma, Turkish dotted/dotless i outside a Turkish locale,
# German sharp s (upper is two letters), titlecase digraphs, Cyrillic
# and fullwidth Latin
SAMPLE = [
    "ΟΔΟΣ ΣΟΦΙΑΣ",
    "İstanbul IŞIK",
    "Straße",
    "ǅǈǋ",
    "Москва ЁЖИК ёжик",
    "ＡＢＣ ｘｙｚ",
    "plain ascii TEXT 42",
]

# Letters newer than JDK 17's Unicode 13 tables, as (capital, small):
# LATIN OLD POLISH O (Unicode 14), CYRILLIC TJE (16), VITHKUQI A (14).
# The JDK leaves both forms as they are; ICU 77 (Unicode 16) maps them.
NEWER_LETTERS = [("Ꟁ", "ꟁ"), ("Ᲊ", "ᲊ"), ("\U00010570", "\U00010597")]


def _mapped(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "s string")
    rows = df.select("s", F.lower("s").alias("lo"), F.upper("s").alias("up")).collect()
    return {r["s"]: (r["lo"], r["up"]) for r in rows}


def test_lower_and_upper_match_python_over_unicode(spark):
    assert _mapped(spark, SAMPLE) == {t: (t.lower(), t.upper()) for t in SAMPLE}


def test_letters_newer_than_the_jdk_tables_stay_unmapped(spark):
    """The documented deltas against ICU 77: a JDK upgrade that maps
    any of these fails here, and PARITY.md's list must follow."""
    icu = spark.sparkContext._jvm.com.ibm.icu.lang.UCharacter
    root = spark.sparkContext._jvm.com.ibm.icu.util.ULocale.ROOT
    letters = [c for pair in NEWER_LETTERS for c in pair]
    assert _mapped(spark, letters) == {c: (c, c) for c in letters}
    for capital, small in NEWER_LETTERS:
        assert (icu.toLowerCase(root, capital), icu.toUpperCase(root, small)) == (small, capital)


def test_lowercasing_leaves_the_icu_case_mapper_uninitialized(spark, sf_smoke):
    """The quality gate lowercases every document; in a JVM where
    nothing has used ICU case mapping, the class that builds ICU's
    title-case table (seconds of one thread, under its init lock) is
    still uninitialized afterwards."""
    from etl_wikipedia_updates_spark.stages import quality_keep
    from etl_wikipedia_updates_spark.tables import load_table

    assert quality_keep(load_table(spark, sf_smoke, "documents")).count() > 0
    jvm = spark.sparkContext._jvm
    lang = jvm.java.lang
    mapper = lang.Class.forName(
        "org.apache.spark.sql.catalyst.util.CollationAwareUTF8String",
        False,  # load without initializing
        lang.Thread.currentThread().getContextClassLoader(),
    )
    field = lang.Class.forName("sun.misc.Unsafe").getDeclaredField("theUnsafe")
    field.setAccessible(True)
    assert field.get(None).shouldBeInitialized(mapper)


def test_get_spark_on_a_running_jvm_sets_jdk_case_mapping(spark):
    """A call that finds the driver JVM running (in a default locale
    without special casing) still turns ICU case mapping off."""
    from etl_wikipedia_updates_spark.session import ICU_CASE_MAPPINGS, get_spark

    spark.conf.set(ICU_CASE_MAPPINGS, "true")
    try:
        # the conftest fixture's arguments, so no other conf changes
        again = get_spark(app_name="tests", shuffle_partitions=8)
        assert again.conf.get(ICU_CASE_MAPPINGS) == "false"
    finally:
        spark.conf.set(ICU_CASE_MAPPINGS, "false")


def test_get_spark_keeps_icu_under_a_locale_with_special_casing(spark):
    """The JDK lowercases ``I`` to dotless ``ı`` in a Turkish default
    locale, where ICU's root mapping does not: such a JVM keeps ICU."""
    from etl_wikipedia_updates_spark.session import ICU_CASE_MAPPINGS, get_spark

    locale = spark.sparkContext._jvm.java.util.Locale
    was = locale.getDefault()
    spark.conf.set(ICU_CASE_MAPPINGS, "true")
    try:
        locale.setDefault(locale("tr", "TR"))
        again = get_spark(app_name="tests", shuffle_partitions=8)
        assert again.conf.get(ICU_CASE_MAPPINGS) == "true"
    finally:
        locale.setDefault(was)
        spark.conf.set(ICU_CASE_MAPPINGS, "false")
