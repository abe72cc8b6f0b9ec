"""Tests of the benchmark's input generators.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench import corpus  # noqa: E402
from perfbench import dropzone as DZ  # noqa: E402


def _tree(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def test_same_seed_gives_byte_identical_drop_zone(tmp_path):
    for name in ("a", "b"):
        DZ.DropZone.generate(7, 300).write(str(tmp_path / name))
        DZ.write_configs(str(tmp_path / name / "config"))
    a, b = _tree(str(tmp_path / "a")), _tree(str(tmp_path / "b"))
    assert a == b
    # 10 sources + 3 codebooks, each with its sidecar, and 2 configs
    assert len(a) == 2 * 13 + 2
    DZ.DropZone.generate(8, 300).write(str(tmp_path / "c"))
    assert _tree(str(tmp_path / "c"))[DZ.INDIVIDUAL] != a[DZ.INDIVIDUAL]


def test_sidecars_hold_the_sha1_of_their_file(tmp_path):
    import hashlib
    DZ.DropZone.generate(1, 50).write(str(tmp_path))
    tree = _tree(str(tmp_path))
    for rel, data in tree.items():
        if not rel.endswith(".sha1"):
            assert tree[rel + ".sha1"][:40].decode() == \
                hashlib.sha1(data).hexdigest()


def test_codebooks_parse_with_the_engine_parser(tmp_path):
    from pmc_conversion_spark.sources.codebook import parse_codebook_file
    DZ.DropZone.generate(1, 10).write(str(tmp_path))
    rows = parse_codebook_file(str(tmp_path / DZ.CB_DIAGNOSIS))
    assert ("DIAGCD", "95913", "Malignant lymphoma, non-Hodgkin") in rows
    assert ("HOSPDIAG", "217", "UMCU") in rows


def test_change_one_row_adds_one_consent_date(tmp_path):
    dz = DZ.DropZone.generate(3, 200)
    dz.write(str(tmp_path))
    before = dz.expected_counts()
    old = _tree(str(tmp_path))
    assert dz.change_one_row(str(tmp_path)) == DZ.RDP_IC
    after = dz.expected_counts()
    assert after.pop("Individual.ic_given_date") == \
        before.pop("Individual.ic_given_date") + 1
    assert after == before
    new = _tree(str(tmp_path))
    assert {k for k in new if new[k] != old[k]} == {DZ.RDP_IC,
                                                    DZ.RDP_IC + ".sha1"}


def test_corpus_is_deterministic(tmp_path):
    corpus.write_tables(str(tmp_path / "a"), 5)
    corpus.write_tables(str(tmp_path / "b"), 5)
    assert _tree(str(tmp_path / "a")) == _tree(str(tmp_path / "b"))


@pytest.fixture(scope="module")
def spark():
    from pmc_conversion_spark.session import get_spark
    s = get_spark("perfbench-tests", cpus=2)
    yield s
    s.stop()


def test_expected_counts_match_the_pipeline(spark, tmp_path):
    """sources2csr + csr2transmart on a small generated drop zone give
    exactly the per-concept observation counts the generator predicts."""
    from pmc_conversion_spark.plans import reference_e2e as RE
    from pmc_conversion_spark.plans import transmart as TM
    from pmc_conversion_spark.plans.ontology import ontology_df
    dz = DZ.DropZone.generate(11, 120)
    dz.write(str(tmp_path / "dz"))
    cfg, ont = DZ.write_configs(str(tmp_path / "config"))
    csr = RE.build_csr(spark, data_dir=str(tmp_path / "dz"), config_path=cfg)
    assert csr["Individual"].count() == 120
    tabs = TM.build_staging(
        spark, csr, ontology_df(spark, RE.load_ontology_nodes(ont), "\\T\\"),
        "CSR", "\\T\\")
    got = {r["concept_cd"]: r["count"] for r in
           tabs["observation_fact"].groupBy("concept_cd").count().collect()}
    assert got == dz.expected_counts()
