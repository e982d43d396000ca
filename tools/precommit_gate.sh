#!/bin/sh
# Pre-commit gate for INDEX-SCHEMA-TOUCHING diffs (the round-7 lesson:
# the signature index grew min_md5 and shipped before its consumer
# tests ran; one failed-test commit sat in history ~2h).
#
# Run this BEFORE committing any change to:
#   operators/dedup.py (signature_index / band tables / memoized builds)
#   operators/_memo.py
#   functions/text.py
#   operators/similarity.py (the _sem_labels / IVF index builders)
#   operators/textops.py (the persisted lexical index)
#   storage.py (the index append gate, tombstone and compaction steps)
#   streaming/jobs.py (the index sinks)
#
# It runs the hand-reference + memo test block: every test that pins
# an index artifact's values to a hand-computed reference, plus the
# memo layer's invalidation/eviction contract; then the sink,
# tombstone and compaction tests of the three persisted index
# families (dedup, text, ANN), the re-persist test and the restart
# test (a second process finds the persisted indexes again).
set -e
cd "$(dirname "$0")/.."
python -m pytest tests/test_memo.py -q --no-header
python -m pytest tests/test_operators.py tests/test_properties.py \
    -k "hand_reference or memo or fingerprint or signature or minhash or simhash" \
    -q --no-header
python -m pytest tests/test_dedup_incremental.py tests/test_text_index.py \
    -q --no-header
python -m pytest tests/test_storage.py::test_repersist_replaces_every_index_table \
    tests/test_cli.py::test_persisted_indexes_survive_a_restart \
    -q --no-header
python -m pytest tests/test_operators.py \
    -k "persisted_ann_index or ann_index_sink or ann_tombstone or ann_index_stats" \
    -q --no-header
echo "precommit gate: GREEN"
