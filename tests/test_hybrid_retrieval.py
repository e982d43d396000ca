"""hybrid_topk: the RRF fusion must be an exact integer replay of its
two component rankings -- no scoring of its own, no doubles, absence
contributes zero."""

from real_time_fraud_detection_system_spark.operators.similarity import (
    HYBRID_QVEC,
    HYBRID_RRF_K,
    HYBRID_TOPK,
    ann_ivf_topk,
    hybrid_topk,
)
from real_time_fraud_detection_system_spark.operators.textops import (
    bm25_topk,
)

SF = "/root/testdata/sf0.001"


def test_hybrid_topk_is_exact_rrf_of_its_components(spark):
    """Replay the fusion in pure Python from the two component
    registry queries: rank the BM25 frame by (score_fp desc, doc_id
    asc), take the IVF ranks for the hybrid query vector, fuse with
    1000000 // (K + rank) per present ranking, sort by (rrf desc,
    doc_id asc), cut at HYBRID_TOPK -- row-for-row equal."""
    lex_rows = bm25_topk(spark, SF).collect()
    lex_rank = {
        r["doc_id"]: i + 1
        for i, r in enumerate(
            sorted(lex_rows, key=lambda r: (-r["score_fp"], r["doc_id"]))
        )
    }
    sem_rank = {
        r["neighbor_id"]: r["rank"]
        for r in ann_ivf_topk(spark, SF).collect()
        if r["q_id"] == HYBRID_QVEC
    }
    fused = {}
    for d in set(lex_rank) | set(sem_rank):
        rrf = 0
        if d in lex_rank:
            rrf += 1000000 // (HYBRID_RRF_K + lex_rank[d])
        if d in sem_rank:
            rrf += 1000000 // (HYBRID_RRF_K + sem_rank[d])
        fused[d] = rrf
    want = sorted(fused.items(), key=lambda kv: (-kv[1], kv[0]))[
        :HYBRID_TOPK
    ]

    got = [
        (r["doc_id"], r["lex_rank"], r["sem_rank"], r["rrf_fp"])
        for r in hybrid_topk(spark, SF).collect()
    ]
    assert [(d, rrf) for d, _, _, rrf in got] == want
    for d, lr, sr, rrf in got:
        assert lr == lex_rank.get(d, 0)
        assert sr == sem_rank.get(d, 0)
        assert rrf > 0
    # both signals must actually reach the fused list on this corpus
    # (a fusion that degenerates to one ranking is a silent bug)
    assert any(lr > 0 for _, lr, _, _ in got)
    assert any(sr > 0 for _, _, sr, _ in got)
