"""Phenotype pipeline tests — mirror reference
tests/test_mapper_parse_phenotype_row.py: HPO normalization, NAD skip,
date normalization, ontology warnings via broadcast join."""

from __future__ import annotations

import pytest

from p6_spark.operators.phenotype import map_phenotype_table
from p6_spark.sources.ontology import ontology_from_records

COLS = ["Patient ID", "HPO", "Timestamp", "Status (observed/excluded)"]


def pheno_df(spark, rows):
    from p6_spark.loader import normalize_columns

    df = spark.createDataFrame(rows, ", ".join(f"`{c}` string" for c in COLS))
    return normalize_columns(df)


@pytest.fixture(scope="module")
def tiny_ontology(spark):
    root = "HP:0000118"
    return ontology_from_records(
        spark,
        [
            ("HP:0000510", "Rod-cone dystrophy", False, [], [root, "HP:0000001"]),
            ("HP:0001636", "Tetralogy of Fallot", False, [], [root, "HP:0000001"]),
            ("HP:0100753", "Schizophrenia", False, [], [root, "HP:0000001"]),
            ("HP:0002240", "Hepatomegaly", False, [], [root, "HP:0000001", "HP:0000510"]),
            ("HP:0000001", "All", False, [], []),
            ("HP:0009999", "Old term", True, ["HP:0000510"], [root]),
        ],
    )


def test_curie_zero_padding(spark):
    r = map_phenotype_table(spark, pheno_df(spark, [("1", "HP:510", "T0", "O")]))
    assert r.valid.collect()[0]["hpo_id"] == "HP:0000510"


def test_bare_digits_and_hp_space_forms(spark):
    r = map_phenotype_table(
        spark, pheno_df(spark, [("1", "1636", "T0", "O"), ("2", "hp 0100753", "T1", "E")])
    )
    assert sorted(x["hpo_id"] for x in r.valid.collect()) == ["HP:0001636", "HP:0100753"]


def test_date_normalization(spark):
    r = map_phenotype_table(spark, pheno_df(spark, [("1", "HP:510", "20200101", "O")]))
    assert r.valid.collect()[0]["date_of_observation"] == "T20200101"


def test_nad_skipped_with_warning(spark):
    r = map_phenotype_table(spark, pheno_df(spark, [("1", "NAD", "T0", "O")]))
    assert r.valid.count() == 0
    warns = [a for a in r.audit.collect() if a["level"] == "warning"]
    assert any("'NAD' encountered" in a["message"] for a in warns)


def test_unparseable_cell_rejected(spark):
    r = map_phenotype_table(spark, pheno_df(spark, [("1", "??", "T0", "O")]))
    assert r.valid.count() == 0
    assert any("Cannot parse HPO term+ID" in a["message"] for a in r.audit.collect())


def test_null_cell_rejected_not_dropped(spark):
    # a NULL HPO cell is not NAD: it reaches the parse audit, which renders
    # the missing cell as 'nan' (the reference's str(NaN))
    r = map_phenotype_table(
        spark,
        pheno_df(
            spark,
            [
                ("1", "HP:0000510", "T0", "O"),
                ("2", None, "T0", "O"),
                ("3", "NAD", "T0", "O"),
                ("4", "??", "T0", "O"),
            ],
        ),
    )
    assert [x["phenotype_patient_ID"] for x in r.valid.collect()] == ["1"]
    nan_rows = [
        (a["level"], a["message"])
        for a in r.audit.collect()
        if a["message"].endswith("'nan'")
    ]
    assert nan_rows == [("error", "Sheet 'phenotype': Cannot parse HPO term+ID from 'nan'")]


def test_status_truthiness_o_and_e_both_true(spark):
    # 'O' and 'E' both truthy through the fallback — bug-compatible with
    # the reference (_to_bool, SURVEY §2.3 F2)
    r = map_phenotype_table(
        spark, pheno_df(spark, [("1", "HP:510", "T0", "O"), ("2", "HP:511", "T0", "E")])
    )
    assert [x["status"] for x in r.valid.orderBy("phenotype_patient_ID").collect()] == [
        True,
        True,
    ]


def test_invalid_timestamp_rejected(spark):
    r = map_phenotype_table(spark, pheno_df(spark, [("1", "HP:510", None, "O")]))
    assert r.valid.count() == 0
    assert any("Invalid date_of_observation" in a["message"] for a in r.audit.collect())


def test_ontology_not_found_warning(spark, tiny_ontology):
    r = map_phenotype_table(
        spark, pheno_df(spark, [("1", "HP:7777777", "T0", "O")]), ontology=tiny_ontology
    )
    assert r.valid.count() == 1  # warning keeps the row
    assert any("not found in ontology" in a["message"] for a in r.audit.collect())


def test_obsolete_term_warning_with_replacement(spark, tiny_ontology):
    r = map_phenotype_table(
        spark, pheno_df(spark, [("1", "HP:9999", "T0", "O")]), ontology=tiny_ontology
    )
    msgs = [a["message"] for a in r.audit.collect()]
    assert any("is obsolete; use HP:0000510" in m for m in msgs)


def test_label_mismatch_warning(spark, tiny_ontology):
    r = map_phenotype_table(
        spark,
        pheno_df(spark, [("1", "Wrong label HP:0000510", "T0", "O")]),
        ontology=tiny_ontology,
    )
    msgs = [a["message"] for a in r.audit.collect()]
    assert any("does not match ontology name" in m for m in msgs)


def test_matching_label_no_warning(spark, tiny_ontology):
    r = map_phenotype_table(
        spark,
        pheno_df(spark, [("1", "Rod-cone dystrophy HP:0000510", "T0", "O")]),
        ontology=tiny_ontology,
    )
    msgs = [a["message"] for a in r.audit.collect()]
    assert not any("does not match" in m for m in msgs)


def test_annotation_propagation_warning(spark, tiny_ontology):
    # HP:0002240 has ancestor HP:0000510; both in one sheet -> redundancy
    r = map_phenotype_table(
        spark,
        pheno_df(spark, [("1", "HP:0000510", "T0", "O"), ("1", "HP:0002240", "T1", "O")]),
        ontology=tiny_ontology,
    )
    msgs = [a["message"] for a in r.audit.collect()]
    assert any("redundant with its ancestor" in m for m in msgs)


def test_missing_required_columns_rejects_table(spark):
    df = spark.createDataFrame([("1", "HP:510")], "`Patient ID` string, hpo string")
    from p6_spark.loader import normalize_columns

    r = map_phenotype_table(spark, normalize_columns(df))
    assert r.valid.count() == 0
    assert any("missing required columns" in a["message"] for a in r.audit.collect())
