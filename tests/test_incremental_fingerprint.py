"""Done-signal fingerprints computed on the driver must equal the digest
of Spark's own manifest scan byte for byte, so signals written by the
Spark-side computation stay valid (luigi-pipeline/main.py:66-68)."""

from __future__ import annotations

import hashlib
import os

from pmc_conversion_spark.operators.aggregates import manifest_digest
from pmc_conversion_spark.plans.incremental import dir_fingerprint
from pmc_conversion_spark.sources.scans import manifest_with_checksums

EMPTY = hashlib.sha1(b"").hexdigest()

#: relative path -> content; everything Spark's listing and the
#: manifest filters must drop is listed with ``kept=False``
TREE = {
    # the sort pins: "a <sha1>" vs "a b <sha1>" vs "a.b <sha1>" order
    # on the character after "a", so lines (not paths) are sorted
    "a": (b"1", True),
    "a b": (b"2", True),
    "a.b": (b"3", True),
    "nested/deeper/leaf.tsv": (b"x\ty\n", True),
    "dir with space/f.csv": (b"k,v\n", True),
    "café/naïve-ü.txt": ("üñî".encode(), True),
    "x.crc": (b"crc", True),
    "k=1/_x=2": (b"partition-style", True),
    # Spark descends into _metadata* dirs; only the leaf name is tested
    "md/_metadata/inner": (b"inner", True),
    ".hidden": (b"h", False),
    ".hid/inside": (b"h", False),
    "x.sha1": (b"0" * 40, False),
    "_SUCCESS": (b"ok", False),
    "_metadata": (b"parquet footer", False),
    "_dir/z": (b"z", False),
    "f._COPYING_": (b"partial", False),
    "empty": (b"", False),
}


def _write(root, tree):
    for rel, (data, _) in tree.items():
        p = os.path.join(root, rel)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "wb") as f:
            f.write(data)


def _spark_fingerprint(spark, path):
    digest = manifest_digest(manifest_with_checksums(spark, path))
    return hashlib.sha1(digest.collect()[0].digest.encode()).hexdigest()


def test_fingerprint_matches_spark_manifest_digest(spark, tmp_path):
    root = str(tmp_path / "tree")
    _write(root, TREE)
    # Spark's listing drops exactly the kept=False names (zero-length
    # files and _metadata included); pin that before trusting parity
    listed = {r.path for r in manifest_with_checksums(spark, root).collect()}
    assert listed == {rel for rel, (_, kept) in TREE.items() if kept}
    assert dir_fingerprint(root) == _spark_fingerprint(spark, root)
    # a one-byte content change moves both in lockstep
    with open(os.path.join(root, "a b"), "wb") as f:
        f.write(b"3")
    assert dir_fingerprint(root) == _spark_fingerprint(spark, root)


def test_fingerprint_follows_symlinked_dirs_like_spark(spark, tmp_path):
    target = tmp_path / "target"
    _write(str(target), {"sub/f": (b"f", True)})
    root = tmp_path / "root"
    root.mkdir()
    (root / "link").symlink_to(target)
    assert dir_fingerprint(str(root)) == _spark_fingerprint(spark, str(root))
    assert dir_fingerprint(str(root)) != EMPTY


def test_fingerprint_of_missing_empty_and_invisible_dirs(tmp_path):
    assert dir_fingerprint(str(tmp_path / "missing")) == EMPTY
    assert dir_fingerprint(str(tmp_path)) == EMPTY
    _write(str(tmp_path), {"_SUCCESS": (b"", False), ".x": (b"x", False),
                           "empty.tsv": (b"", False)})
    assert dir_fingerprint(str(tmp_path)) == EMPTY

