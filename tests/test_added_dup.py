"""added_dup_against_base: every provenance class engineered on a
hand-built corpus (the sf fixtures barely exercise dup_within_dump),
including the pair-end-in-neither-snapshot exclusion."""

import hashlib

from real_time_fraud_detection_system_spark.operators.corpusops import (
    added_dup_against_base,
)


def _in_snap(tag: str, doc_id: int) -> bool:
    h = hashlib.md5(f"{tag}:{doc_id}".encode()).hexdigest()[:8]
    return int(h, 16) % 10 < 9


# membership classes under the md5 rule (verified by the assertions in
# the test body, so a constant-drift would fail loudly, not silently)
ADDED = [4, 17, 25, 62]  # in B, not in A
BASE = [1]  # in A
NEITHER = [140]  # in no snapshot: must contribute to NO class

_TXT_RECYCLED = "alpha beta gamma delta epsilon zeta eta theta iota"
_TXT_TEMPLATE = "one two three four five six seven eight nine ten"
_TXT_NOVEL = "red orange yellow green blue indigo violet umber ochre"
_TXT_HOLDOUT = "north south east west up down left right forward back"


def test_added_dup_provenance_classes(spark, tmp_path):
    for i in ADDED:
        assert _in_snap("snapB", i) and not _in_snap("snapA", i)
    assert _in_snap("snapA", BASE[0])
    assert not _in_snap("snapA", NEITHER[0])
    assert not _in_snap("snapB", NEITHER[0])

    rows = [
        # ADDED[0] duplicates a BASE doc -> dup_of_base
        (ADDED[0], _TXT_RECYCLED, "en", "srcA", len(_TXT_RECYCLED)),
        (BASE[0], _TXT_RECYCLED, "en", "srcZ", len(_TXT_RECYCLED)),
        # ADDED[1] and ADDED[2] duplicate each other -> dup_within_dump
        (ADDED[1], _TXT_TEMPLATE, "en", "srcA", len(_TXT_TEMPLATE)),
        (ADDED[2], _TXT_TEMPLATE, "en", "srcA", len(_TXT_TEMPLATE)),
        # ADDED[3] duplicates only a doc in NEITHER snapshot -> novel
        (ADDED[3], _TXT_HOLDOUT, "en", "srcB", len(_TXT_HOLDOUT)),
        (NEITHER[0], _TXT_HOLDOUT, "en", "srcZ", len(_TXT_HOLDOUT)),
    ]
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).write.parquet(str(sf / "documents.parquet"))

    got = {
        r["source"]: (
            r["n_added"],
            r["n_dup_of_base"],
            r["n_dup_within_dump"],
            r["n_novel"],
            r["recycled_ppm"],
        )
        for r in added_dup_against_base(spark, str(sf)).collect()
    }
    assert got == {
        "srcA": (3, 1, 2, 0, 333333),
        "srcB": (1, 0, 0, 1, 0),  # its only near-dup is in no snapshot
    }
