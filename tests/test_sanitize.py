"""Golden-pair tests for the compat sanitization/inference functions
(reference semantics documented at assets.py:253-344; SURVEY.md §1.2)."""

from pyspark.sql import types as T

from datalake_local_spark.functions.sanitize import (
    fix_string,
    identify_string_type,
    infer_column_types,
    sanitize_db_name,
)


def test_fix_string_percent_and_enye():
    assert fix_string("%peso") == "porcentaje_peso"
    assert fix_string("año") == "ano"
    assert fix_string("a  b!c") == "a_b_c"
    assert fix_string("a___b") == "a_b"
    assert fix_string("--") == "_"


def test_fix_string_accents_transliterated():
    assert fix_string("camión") == "camion"
    assert fix_string("café con leche") == "cafe_con_leche"


def test_sanitize_db_name_limits():
    assert sanitize_db_name("My Table-Name!") == "My_Table_Name_"
    assert len(sanitize_db_name("x" * 100)) == 63
    assert sanitize_db_name("ünïcode") == "unicode"


def test_identify_string_type_lattice():
    assert identify_string_type("2024-01-02 03:04:05") == "timestamp"
    assert identify_string_type("2024-01-02 03:04:05.123456") == "timestamp"
    assert identify_string_type("2024-01-02") == "date"
    assert identify_string_type("12345") == "bigint"
    assert identify_string_type("-7") == "bigint"
    assert identify_string_type("12.5") == "varchar"
    assert identify_string_type("hello") == "varchar"


def test_infer_first_non_null_typing():
    rows = [
        [None, "abc", "1"],
        ["42", "2024-01-01", "x"],
    ]
    schema = infer_column_types(rows, ["a", "b", "c"])
    assert schema.fields[0].dataType == T.LongType()  # first non-null is "42"
    assert schema.fields[1].dataType == T.StringType()  # first non-null is "abc"
    assert schema.fields[2].dataType == T.LongType()  # first non-null is "1"
    # names that collide once sanitized (case-insensitively, as Spark
    # compares them) get a suffix no header spells literally; types stay
    # with their column
    collide = infer_column_types([["1", "x", "2", "y"]], ["Total", "to tal", "total", "total_2"])
    assert collide.names == ["Total", "to_tal", "total_3", "total_2"]
    assert [f.dataType for f in collide.fields] == [
        T.LongType(), T.StringType(), T.LongType(), T.StringType()
    ]


def test_infer_all_null_defaults_varchar():
    rows = [["nan", "NULL"], ["", "nan"]]
    schema = infer_column_types(rows, ["a", "b"])
    assert all(f.dataType == T.StringType() for f in schema.fields)
