"""The r9 candidate-stage rework for the exact verifiers (r8 VERDICT
#1/#2): shingle-PAIR blocking must be output-identical to the
inverted-index scheme, the boilerplate df cap must engage exactly like
its DuckDB oracle mirror, and the degree-aware heavy-doc path must be
exact under forced routing."""

from __future__ import annotations

import itertools

import duckdb
import pytest

from pyspark.sql import functions as F

from streamforge_data_pipeline_spark.operators.minhash import (
    _blocked_intersections,
    _shared_counts,
    _single_shingle_pairs,
    auto_boilerplate_max_df,
    containment_lsh_pairs,
    containment_pairs,
    fuzzy_dedup,
    shingles,
)
from streamforge_data_pipeline_spark.registry import REGISTRY


def _adversarial_docs(spark):
    """Singles, exact twins, subset/superset, a boilerplate band and
    short degenerate docs — every edge the pair scheme special-cases."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = []
    # 1-shingle docs (3 tokens): identical pair + one contained in a
    # larger doc
    rows.append((1, "alpha beta gamma"))
    rows.append((2, "alpha beta gamma"))
    rows.append((3, "alpha beta gamma delta epsilon"))
    # 2-shingle doc fully inside a big one
    rows.append((4, "beta gamma delta epsilon"))
    # near-identical longer docs (one word differs)
    rows.append((5, base))
    rows.append((6, base.replace("kappa", "lambda")))
    # scattered-overlap docs sharing exactly 2 shingles
    rows.append((7, "alpha beta gamma xx yy zz delta epsilon zeta"))
    # zero-shingle doc (under 3 tokens)
    rows.append((8, "mu nu"))
    # clones with shared boilerplate tail
    for i in range(9, 29):
        rows.append((i, f"unique{i} token{i} word{i} common suffix line"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _brute_intersections(rows):
    import re

    sets = {}
    for doc_id, text in rows:
        ts = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
        sets[doc_id] = {
            " ".join(ts[i : i + 3]) for i in range(len(ts) - 2)
        }
    out = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        if inter:
            out[(a, b)] = inter
    return out


@pytest.mark.parametrize("heavy_threshold", [512, 4, 1])
def test_blocked_intersections_exact(spark, heavy_threshold):
    """inter from C(inter,2) arithmetic + heavy-path halving match the
    brute-force intersection counts at every routing split (threshold
    1 forces EVERYTHING through the heavy inverted path; 4 mixes)."""
    docs = _adversarial_docs(spark)
    sh = shingles(docs).persist()
    got = {
        (r["doc_a"], r["doc_b"]): r["inter"]
        for r in _blocked_intersections(sh, heavy_threshold).collect()
    }
    sh.unpersist()
    want = {
        k: v
        for k, v in _brute_intersections(
            [(r["doc_id"], r["text"]) for r in docs.collect()]
        ).items()
        if v >= 2
    }
    assert got == want


@pytest.mark.parametrize("salt", [(8, 1), (4, 2)])
def test_shared_counts_salt_split_is_exact(spark, salt):
    """The hot-key salt split counts every co-shingled pair exactly
    once: (R, df_hot) = (8, 1) sends every shared shingle through the
    salted join; (4, 2) mixes hot and cold shingles."""
    docs = _adversarial_docs(spark)
    sh = shingles(docs).persist()
    got = {
        (r["doc_a"], r["doc_b"]): r["inter"]
        for r in _shared_counts(sh, salt).collect()
    }
    sh.unpersist()
    assert got == _brute_intersections(
        [(r["doc_id"], r["text"]) for r in docs.collect()]
    )


def test_single_shingle_pairs_cover_inter1(spark):
    docs = _adversarial_docs(spark)
    sh = shingles(docs).persist()
    got = {
        (r["doc_a"], r["doc_b"])
        for r in _single_shingle_pairs(sh).collect()
    }
    sh.unpersist()
    brute = _brute_intersections(
        [(r["doc_id"], r["text"]) for r in docs.collect()]
    )
    import re

    sizes = {}
    for r in docs.collect():
        ts = [t for t in re.split(r"[^a-z0-9]+", r["text"].lower()) if t]
        sizes[r["doc_id"]] = len({" ".join(ts[i : i + 3]) for i in range(len(ts) - 2)})
    want = {
        (a, b)
        for (a, b), v in brute.items()
        if v == 1 and (sizes[a] == 1 or sizes[b] == 1)
    }
    # every na=1/nb=1 inter-1 pair is present; no inter>=2 pair leaks in
    assert want <= got
    assert all(brute[(a, b)] == 1 for (a, b) in got)


@pytest.mark.parametrize("key,fn_kwargs", [
    ("containment_dedup", {}),
    ("containment_dedup_lsh", {}),
    ("fuzzy_dedup", {}),
])
def test_capped_oracle_parity_on_boilerplate_corpus(spark, key, fn_kwargs):
    """Plant real boilerplate skew (a shared license header on >1% of
    3000 docs) so auto_boilerplate_max_df ENGAGES, then check Spark
    output against the registry oracle's cap-mirror CTEs running on
    the same corpus in DuckDB — the lockstep the r8 verdict asked for
    ('mirror the cap in both oracles')."""
    header = "standard license header applies to this document body"
    rows = []
    for i in range(3000):
        rows.append((i, f"{header} payload{i % 800} item{i % 797} unit{i} end"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = shingles(docs).persist()
    cap = auto_boilerplate_max_df(sh)
    sh.unpersist()
    assert cap is not None, "corpus must engage the cap for this test"

    if key == "containment_dedup":
        out = containment_pairs(docs, **fn_kwargs)
    elif key == "containment_dedup_lsh":
        out = containment_lsh_pairs(docs, **fn_kwargs)
    else:
        out = fuzzy_dedup(docs, **fn_kwargs)

    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    from tests.utils import compare

    ok, msg = compare(out, con, REGISTRY[key].oracle)
    con.close()
    assert ok, msg


def test_pair_scheme_guards(spark):
    docs = _adversarial_docs(spark)
    with pytest.raises(ValueError):
        containment_pairs(docs, tau=0.4, scheme="pair")
    with pytest.raises(ValueError):
        fuzzy_dedup(docs, min_shared=1, scheme="pair")
    # auto routing stays complete below the pair scheme's validity
    low = containment_pairs(docs, tau=0.5, scheme="auto", max_df=None)
    inv = containment_pairs(docs, tau=0.5, scheme="inverted", max_df=None)
    assert sorted(map(tuple, low.collect())) == sorted(map(tuple, inv.collect()))


def test_capped_containment_is_subset_with_lowerbound_values(spark):
    """With the cap forced on, emitted pairs are a subset of the
    uncapped output restricted to capped evidence, and every value is
    <= its uncapped counterpart (the documented lower-bound
    semantics)."""
    header = "standard license header applies to this document body"
    rows = [(i, f"{header} filler{i % 5} a b c d e f g") for i in range(200)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    capped = {
        (r["doc_sub"], r["doc_sup"]): r["containment"]
        for r in containment_pairs(docs, max_df=5).collect()
    }
    full = {
        (r["doc_sub"], r["doc_sup"]): r["containment"]
        for r in containment_pairs(docs, max_df=None).collect()
    }
    for pair, c in capped.items():
        assert pair in full
        assert c <= full[pair] + 1e-9


def test_pair_blocked_jaccard_equals_naive(spark):
    """The third exact-Jaccard scheme: pair-blocked output must be
    byte-identical to the naive inverted-index join, including
    single-shingle docs (the only inter=1 pairs tau > 1/3 can pass)."""
    from streamforge_data_pipeline_spark.operators.minhash import (
        exact_jaccard_pairs,
    )

    docs = _adversarial_docs(spark)
    naive = sorted(
        map(tuple, exact_jaccard_pairs(docs, scheme="naive").collect())
    )
    pair = sorted(
        map(tuple, exact_jaccard_pairs(docs, scheme="pair").collect())
    )
    assert naive == pair and naive

    import pytest as _pytest

    with _pytest.raises(ValueError):
        exact_jaccard_pairs(docs, tau=0.3, scheme="pair")


def test_auto_router_slack_window_emits_half_containment(spark):
    """r9 ADVICE: the auto router's > 0.5 bound must carry the SAME
    1e-9 slack as the emit filter. Corpus engineered so the cost model
    (s2 > 6*n2) would pick 'pair' — 60 docs all sharing one hot
    shingle, two shingles each — and tau set INSIDE the slack window
    (0.5, 0.5+1e-9]: every directional pair has inter=1, na=2,
    c == 0.5, which only the inverted scheme can generate. The old
    router lost all 3540 rows here; the explicit pair scheme must
    refuse the tau instead of silently under-emitting."""
    docs = spark.createDataFrame(
        [(i, f"a b c u{i}") for i in range(60)], "doc_id long, text string"
    )
    tau = 0.5 + 1e-10
    with pytest.raises(ValueError):
        containment_pairs(docs, tau=tau, scheme="pair", max_df=None)
    out = containment_pairs(
        docs, tau=tau, scheme="auto", max_df=None
    ).collect()
    assert len(out) == 60 * 59
    assert all(abs(r["containment"] - 0.5) < 1e-9 for r in out)
    # sanity: the cost model really does prefer 'pair' on this corpus,
    # so the test discriminates on the slack bound, not on s2/n2
    from streamforge_data_pipeline_spark.operators.minhash import (
        _stage_profile,
    )

    sh = shingles(docs)
    prof = _stage_profile(sh)
    assert prof["s2"] > 6.0 * prof["n2"]


def test_containment_lsh_twin_matches_exact_on_planted_excerpts(spark):
    """r10 (r9 VERDICT #1): the LSH containment twin must emit exactly
    the exact key's pairs on a planted excerpt corpus — every planted
    (excerpt, superset) pair sits at J = inter/union >= ~0.55, far
    above the banding's stated worst-case bound J >= tau/(1+rho-tau) =
    0.364, where the 32x2 curve is effectively 1. Values must be
    identical too (same verifier, same rounding)."""
    import random

    from streamforge_data_pipeline_spark.operators.minhash import (
        containment_lsh_pairs,
    )

    rng = random.Random(10)
    rows = []
    doc_id = 0
    for c in range(25):
        toks = [f"w{c}x{rng.randrange(10**6)}" for _ in range(40)]
        rows.append((doc_id, " ".join(toks)))
        # excerpt: first 24 tokens -> c(sub->sup) = 1.0, ratio ~1.7
        rows.append((doc_id + 1, " ".join(toks[:24])))
        doc_id += 2
    # background noise docs that pair with nothing
    for _ in range(50):
        rows.append((doc_id, " ".join(f"n{rng.randrange(10**6)}" for _ in range(30))))
        doc_id += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    exact = {
        (r["doc_sub"], r["doc_sup"]): r["containment"]
        for r in containment_pairs(docs, max_df=None).collect()
    }
    twin = {
        (r["doc_sub"], r["doc_sup"]): r["containment"]
        for r in containment_lsh_pairs(docs, max_df=None).collect()
    }
    assert len(exact) >= 25  # every planted excerpt direction present
    assert twin == exact
