"""bench.py HEADLINE membership rule (stated above the list in
bench.py): every operator family keeps a member and quadratic teaching
variants stay out. These tests make the rule executable.
"""

from real_time_fraud_detection_system_spark.operators import (
    _modules,
    all_queries,
)

from bench import HEADLINE

# the deliberately-quadratic teaching variants (guard_quadratic refuses
# them at bench scale); their scale-path twins are headline instead
_QUADRATIC_TEACHING = {
    "dedup_ngram_jaccard",
    "embedding_near_dup",
    "dedup_simhash16",
}


def test_headline_is_a_registry_subset_without_duplicates():
    registered = set(all_queries())
    assert len(HEADLINE) == len(set(HEADLINE))
    unknown = [q for q in HEADLINE if q not in registered]
    assert not unknown, f"headline names not in the registry: {unknown}"


def test_every_family_has_a_headline_member():
    head = set(HEADLINE)
    for mod in _modules():
        fam = set(getattr(mod, "QUERIES", {}))
        if fam and not fam - _QUADRATIC_TEACHING:
            continue  # family consists only of teaching variants
        if fam:
            assert fam & head, (
                f"{mod.__name__} has no headline member (rule 1)"
            )


def test_quadratic_teaching_variants_stay_out():
    inside = _QUADRATIC_TEACHING & set(HEADLINE)
    assert not inside, f"quadratic teaching variants in headline: {inside}"
