"""sources2csr + EAV + ontology + incremental semantics, incl. the
reference's error paths (duplicate ids raise, missing columns raise) and
the PAT2-removal incremental-rerun scenario (test_data_e2e/README:15-18).
"""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from pmc_conversion_spark.plans import config_model as CM
from pmc_conversion_spark.plans.eav import unpivot_to_eav
from pmc_conversion_spark.plans.ontology import bind_observations, flatten_tree
from pmc_conversion_spark.plans.sources2csr import (
    DuplicateIdError, build_entity)
from pmc_conversion_spark.queries.pipeline import (
    CSR_EXPECT, INDIVIDUAL_ENTITY, SOURCES_CONFIG, _csr_individual)


def test_priority_merge_semantics(spark):
    rows = {r.individual_id: (r.birth_date, r.gender)
            for r in _csr_individual(spark).collect()}
    expect = {pid: (datetime.date.fromisoformat(bd) if bd else None, g)
              for pid, bd, g in CSR_EXPECT}
    assert rows == expect


def test_duplicate_ids_raise(spark, fixture_df):
    frames = {
        "RDP-Patient.tsv": fixture_df(
            [("PAT1", "15AUG2000", "M"), ("PAT1", "16AUG2000", "V")],
            "INDIVIDUAL_ID string, Gebdat string, Geslacht string"),
        "individual.csv": fixture_df(
            [("PAT1", "1", "")],
            "INDIVIDUAL_ID string, SEX string, DTOB string"),
    }
    with pytest.raises(DuplicateIdError):
        build_entity(frames, INDIVIDUAL_ENTITY, SOURCES_CONFIG,
                     codebooks={})


def test_missing_declared_column_raises(spark, fixture_df):
    frames = {
        "RDP-Patient.tsv": fixture_df(
            [("PAT1", "x")], "INDIVIDUAL_ID string, WrongCol string"),
        "individual.csv": fixture_df(
            [("PAT1", "1", "")],
            "INDIVIDUAL_ID string, SEX string, DTOB string"),
    }
    with pytest.raises(ValueError, match="missing from header"):
        build_entity(frames, INDIVIDUAL_ENTITY, SOURCES_CONFIG)


def test_eav_instance_numbering_multi_instance(spark, fixture_df):
    """2 diagnoses for one patient => instance_num 1 and 2 (diagnosis.csv
    has 19 diagnoses over 17 individuals)."""
    diag = fixture_df(
        [("PAT1", "DIA1", "melanoma"), ("PAT1", "DIA2", "neuroblastoma"),
         ("PAT2", "DIA3", "")],
        "individual_id string, diagnosis_id string, tumor_type string")
    obs = unpivot_to_eav(diag, entity="Diagnosis", key="individual_id",
                         attrs={"tumor_type": "text"},
                         extra_keys=["diagnosis_id"])
    got = {(r.diagnosis_id, r.instance_num, r.tval_char)
           for r in obs.collect()}
    # PAT2's empty tumor_type produces no observation
    assert got == {("DIA1", 1, "melanoma"), ("DIA2", 2, "neuroblastoma")}


def test_eav_numeric_dispatch(spark, fixture_df):
    bio = fixture_df([("BIO1", "25"), ("BIO2", "abc"), ("BIO3", None)],
                     "biosource_id string, tumor_percentage string")
    obs = unpivot_to_eav(bio, entity="Biosource", key="biosource_id",
                         attrs={"tumor_percentage": "numeric"})
    got = {(r.biosource_id, r.nval_num) for r in obs.collect()}
    # 'abc' -> observation exists (raw non-empty) with NULL numeric value;
    # NULL -> no observation at all
    assert got == {("BIO1", 25.0), ("BIO2", None)}


def test_ontology_flatten_and_bind(spark, fixture_df):
    nodes = [{"name": "01. A", "children": [
        {"name": "01. Leaf", "concept_code": "E.x"}]}]
    rows = flatten_tree(nodes, "\\Top")
    assert [r["path"] for r in rows] == ["\\Top\\01. A", "\\Top\\01. A\\01. Leaf"]
    from pmc_conversion_spark.plans.ontology import ontology_df
    ont = ontology_df(spark, nodes, "\\Top")
    obs = fixture_df([("PAT1", "E.x"), ("PAT2", "E.unknown")],
                     "patient_id string, concept_cd string")
    bound = bind_observations(obs, ont).collect()
    by_pat = {r.patient_id: r.path for r in bound}
    assert by_pat["PAT1"] == "\\Top\\01. A\\01. Leaf"
    assert by_pat["PAT2"] is None  # unbound concept keeps the observation


def test_incremental_pat2_removal(spark, tmp_path):
    """The reference's change-detection e2e: full dataset vs the same
    minus PAT2 must trigger a re-run; re-running unchanged input skips
    (test_data_e2e/README.md:15-18)."""
    from pmc_conversion_spark.plans.incremental import (
        DagRunner, SignalStore, Task)
    drop = tmp_path / "drop"
    drop.mkdir()
    f = drop / "individual.csv"
    f.write_text("INDIVIDUAL_ID,SEX\nPAT1,1\nPAT2,2\nPAT3,9\n")
    ran = []
    t = Task("sources2csr", [str(drop)], lambda: ran.append(1))
    runner = DagRunner(spark, SignalStore(str(tmp_path / "sig")))
    assert runner.run_pipeline([t]) == [("sources2csr", "ran")]
    assert runner.run_pipeline([t]) == [("sources2csr", "skipped")]
    # remove PAT2 (the 'alternative' dataset)
    f.write_text("INDIVIDUAL_ID,SEX\nPAT1,1\nPAT3,9\n")
    assert runner.run_pipeline([t]) == [("sources2csr", "ran")]
    assert len(ran) == 2


def test_incremental_noop_pass_launches_no_spark_job(spark, tmp_path):
    """A no-change pass is decided on the driver: between two marker
    jobs (Spark job ids are global and sequential) it launches none,
    whichever thread runs the tasks. Rewriting one byte in place, at
    the same size and mtime, still re-runs the task: the fingerprint
    hashes content and does not stat files."""
    from pmc_conversion_spark.plans.incremental import (
        DagRunner, SignalStore, Task)
    drop = tmp_path / "drop"
    drop.mkdir()
    f = drop / "individual.csv"
    f.write_text("INDIVIDUAL_ID,SEX\nPAT1,1\nPAT2,2\n")
    t = Task("sources2csr", [str(drop)], lambda: None)
    runner = DagRunner(spark, SignalStore(str(tmp_path / "sig")))
    assert runner.run_pipeline([t]) == [("sources2csr", "ran")]

    sc = spark.sparkContext
    sc.setJobGroup("noop-pass-marker", "job-id markers")
    try:
        sc.parallelize([0], 1).count()
        assert runner.run_pipeline([t]) == [("sources2csr", "skipped")]
        sc.parallelize([0], 1).count()
        ids = sorted(sc.statusTracker().getJobIdsForGroup("noop-pass-marker"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(ids) == 2 and ids[1] == ids[0] + 1, ids

    st = os.stat(f)
    f.write_text("INDIVIDUAL_ID,SEX\nPAT1,1\nPAT2,9\n")
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert os.stat(f).st_size == st.st_size
    assert runner.run_pipeline([t]) == [("sources2csr", "ran")]


def test_incremental_file_input_fails_the_task(spark, tmp_path):
    """A task whose input is a file, not a directory, must fail
    (task_failed) instead of fingerprinting as empty and never
    re-running when the file changes."""
    from pmc_conversion_spark.plans.incremental import (
        DagRunner, PipelineExit, SignalStore, Task)
    f = tmp_path / "individual.csv"
    f.write_text("INDIVIDUAL_ID\nPAT1\n")
    t = Task("sources2csr", [str(f)], lambda: None)
    runner = DagRunner(spark, SignalStore(str(tmp_path / "sig")))
    with pytest.raises(PipelineExit) as ei:
        runner.run_pipeline([t])
    assert ei.value.retclass == "task_failed"
    assert "not a directory" in str(ei.value)
    assert ei.value.statuses == [("sources2csr", "failed")]


def test_config_from_json_roundtrip():
    cfg = CM.from_json_dict({
        "entities": {"Individual": {
            "id_attribute": "individual_id",
            "attributes": [
                {"name": "individual_id",
                 "sources": [{"file": "a.tsv", "column": "ID"}]},
                {"name": "birth_date", "kind": "date",
                 "sources": [{"file": "a.tsv", "column": "Gebdat",
                              "date_format": "ddMMMyyyy"}]},
            ]}},
        "file_format": {"a.tsv": {"delimiter": ",", "codebook": "cb"}},
        "codebook_columns": {"a.tsv": ["SEX"]},
    })
    e = cfg.entities[0]
    assert e.name == "Individual" and e.id_attr == "individual_id"
    assert e.attr("birth_date").sources[0].date_format == "ddMMMyyyy"
    assert cfg.fmt("a.tsv").delimiter == ","
    assert cfg.fmt("a.tsv").codebook == "cb"
    assert cfg.fmt("unknown.tsv").delimiter == "\t"
