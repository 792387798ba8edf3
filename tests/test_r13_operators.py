"""Round-13 property / regression pins.

House rule (memory: r9 skyline lesson): for every operator with an
order/tie/boundary rule, add a tie-ADVERSARIAL property test feeding
values the substrate never produces — the mirrored oracle checks
cross-engine arithmetic, not semantics.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F


def _brute_cdc_winner(rows):
    """Reference winner under (v DESC, op ASC, bal ASC NULLS FIRST)."""

    def key(r):
        v, op, bal = r
        return (-v, op, (0, 0) if bal is None else (1, bal))

    return min(rows, key=key)


def _write_docs(spark, path, rows):
    spark.createDataFrame(
        [(i, t, "en", "srcT", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{path}/documents.parquet")


def test_suffix_lrs_saturation_production_direction(spark, tmp_path):
    """VERDICT r12 task #3 (production-direction twin of the r12
    k_levels=4 pin): when DOCS EXCEED the 2^K resolution — the shape a
    production corpus has when K is picked too small — a repeat longer
    than 2^K saturates at exactly 2^K, while repeats shorter than 2^K
    in the SAME corpus stay exact and equal their higher-K values.
    The K rule: pick K = ceil(log2(max_doc_tokens)); each +1 costs one
    banded dense-rank round + one descent level (measured in
    BENCH_TREND's lrs_k_sweep)."""
    from utility_service_areas_spark.operators.suffix import doc_repeat_stats
    from utility_service_areas_spark.sources.tables import load_table

    shared80 = " ".join(f"s{j}" for j in range(80))  # 80-token repeat
    small = " ".join(f"p{j}" for j in range(10))  # 10-token repeat
    docs = [
        (1, shared80 + " " + " ".join(f"a{j}" for j in range(20))),
        (2, shared80 + " " + " ".join(f"b{j}" for j in range(20))),
        (3, small + " " + " ".join(f"c{j}" for j in range(30))),
        (4, small + " " + " ".join(f"d{j}" for j in range(30))),
    ]
    _write_docs(spark, str(tmp_path), docs)
    loaded = load_table(spark, str(tmp_path), "documents")

    at_k6 = {
        r.doc_id: r.max_rep_len
        for r in doc_repeat_stats(loaded, k_levels=6).collect()
    }
    at_k8 = {
        r.doc_id: r.max_rep_len
        for r in doc_repeat_stats(loaded, k_levels=8).collect()
    }
    # 100-token docs > 2^6: the 80-token repeat saturates at 64 under
    # K=6 and is exact (80) under K=8
    assert at_k6[1] == at_k6[2] == 64
    assert at_k8[1] == at_k8[2] == 80
    # repeats shorter than the resolution are exact at BOTH K
    assert at_k6[3] == at_k6[4] == at_k8[3] == at_k8[4] == 10


CDC_TIE_LOGS = [
    # (rows per key, description) — every row is (v, op, bal_cents)
    [(2, "U", 100), (2, "D", None)],  # same-version delete+update: D wins
    [(2, "D", None), (2, "U", 100)],  # arrival order must not matter
    [(3, "U", 500), (3, "U", 200)],  # same-version updates: lower bal wins
    [(1, "U", 9), (2, "U", 7), (2, "U", None)],  # NULL bal sorts first
    [(5, "D", None), (5, "D", None), (4, "U", 1)],  # exact duplicates
]


def test_cdc_version_tie_batch_window_is_deterministic(spark):
    """ADVICE r12: cdc_latest_version_merge's window ordered by v DESC
    alone — nondeterministic on duplicate versions. Now the shared
    cdc_tiebreak_order resolves ties (delete beats update, then
    bal ASC NULLS FIRST); pin the window pick against a brute
    reference on tie-adversarial changelogs the substrate never
    produces (its versions are unique per key by construction)."""
    from utility_service_areas_spark.plans.etl_queries import (
        cdc_tiebreak_order,
    )

    rows = []
    for k, log in enumerate(CDC_TIE_LOGS):
        rows.extend((k, v, op, bal) for v, op, bal in log)
    df = spark.createDataFrame(
        rows, "k long, v long, op string, bal_cents long"
    )
    w = Window.partitionBy("k").orderBy(*cdc_tiebreak_order())
    got = {
        r.k: (r.v, r.op, r.bal_cents)
        for r in df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    }
    want = {k: _brute_cdc_winner(log) for k, log in enumerate(CDC_TIE_LOGS)}
    assert got == want


def test_cdc_version_tie_stream_fold_matches_batch(spark):
    """The S32 fold must resolve version ties exactly like the batch
    window — including when the tied rows arrive in SEPARATE calls
    (cross-micro-batch state). r12's fold kept first-arrival on ties."""
    from utility_service_areas_spark.streaming.events import (
        _cdc_state_fn,
        _cdc_winner_key,
    )

    class FakeState:
        def __init__(self):
            self._v = None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    for log in CDC_TIE_LOGS:
        for split in range(1, len(log)):
            state = FakeState()
            out = None
            for batch in (log[:split], log[split:]):
                pdf = pd.DataFrame(
                    {
                        "v": [r[0] for r in batch],
                        "op": [r[1] for r in batch],
                        "bal_cents": pd.array(
                            [r[2] for r in batch], dtype="Int64"
                        ),
                    }
                )
                out = next(_cdc_state_fn((7,), iter([pdf]), state))
            bal = out["bal_cents"][0]
            got = (
                int(out["v"][0]),
                str(out["op"][0]),
                None if pd.isna(bal) else int(bal),
            )
            assert got == _brute_cdc_winner(log), (log, split)
            # and the comparator is the SAME total order the window uses
            assert _cdc_winner_key(got) == min(
                _cdc_winner_key(r) for r in log
            )


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_gopher_flags_tie_boundary_exact(spark, tmp_path):
    """Boundary-adversarial: docs planted EXACTLY at each rule's
    threshold (50 words; mean word length exactly 3 and exactly 10;
    top-token share exactly 1/5; type-token ratio exactly 0.3) must
    PASS — the bounds are inclusive, compared by integer
    cross-multiplication, so there is no float epsilon to drift."""
    from utility_service_areas_spark.plans.text_queries import (
        docs_gopher_quality_flags,
    )

    # doc 1: exactly 50 distinct 3-char words incl 2 stopwords
    #   -> n_words=50 (boundary), sum_len=3*50 (mean=3 boundary),
    #      top_tf=1, n_distinct=50
    w50 = ["the", "and"] + [f"w{j:02d}" for j in range(48)]
    # doc 2: 60 words of length exactly 10 (mean = 10 boundary), one
    #   word repeated 12x (top share 12/60 = 1/5 boundary), 18
    #   distinct (type-token 18/60 = 0.3 boundary), NO stopwords —
    #   boundary-passes three rules while failing the stopword rule.
    big = [f"xx{j:08d}" for j in range(17)]  # 10-char words
    doc2 = ["yyyyyyyyyy"] * 12 + big * 2 + big[:14]
    assert len(doc2) == 60 and len(set(doc2)) == 18
    rows = [(1, " ".join(w50)), (2, " ".join(doc2))]
    _write_docs(spark, str(tmp_path), rows)

    got = {
        r.doc_id: r
        for r in docs_gopher_quality_flags(spark, str(tmp_path)).collect()
    }
    d1 = got[1]
    assert (d1.r_word_count, d1.r_mean_word_len, d1.r_repetition) == (1, 1, 1)
    assert d1.r_stopwords == 1 and d1.r_type_token == 1 and d1.pass_all == 1
    d2 = got[2]
    # mean exactly 10 -> pass; top share exactly 1/5 -> pass;
    # type-token 18/60 = 0.3 exactly -> pass; no stopwords -> fail
    assert (d2.r_mean_word_len, d2.r_repetition, d2.r_type_token) == (1, 1, 1)
    assert d2.r_stopwords == 0 and d2.pass_all == 0


def test_naive_bayes_learns_separable_sources(spark, tmp_path):
    """Semantic check on a SEPARABLE planted corpus: two sources with
    disjoint vocabularies classify perfectly (diagonal confusion),
    and the prediction is invariant to doc order."""
    from utility_service_areas_spark.plans.text_queries import (
        text_naive_bayes_source,
    )
    from utility_service_areas_spark.sources.tables import load_table

    rows = []
    for i in range(20):
        rows.append((i, "alpha beta gamma alpha beta", "en", "srcA", 27))
    for i in range(20, 40):
        rows.append((i, "delta epsilon zeta delta zeta", "en", "srcB", 29))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        (r.actual, r.predicted): r.n_docs
        for r in text_naive_bayes_source(spark, str(tmp_path)).collect()
    }
    assert got == {("srcA", "srcA"): 20, ("srcB", "srcB"): 20}


def test_naive_bayes_argmax_tie_is_class_asc(spark, tmp_path):
    """Tie-adversarial: two classes with IDENTICAL token statistics
    and IDENTICAL priors produce exactly equal integer scores — the
    winner must be the lexicographically smaller class, on every doc."""
    from utility_service_areas_spark.plans.text_queries import (
        text_naive_bayes_source,
    )

    rows = []
    for i in range(10):
        rows.append((i, "mirror words same stats", "en", "srcA", 23))
        rows.append((100 + i, "mirror words same stats", "en", "srcB", 23))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        (r.actual, r.predicted): r.n_docs
        for r in text_naive_bayes_source(spark, str(tmp_path)).collect()
    }
    # every doc (both actual classes) predicts srcA: scores tie exactly
    assert got == {("srcA", "srcA"): 10, ("srcB", "srcA"): 10}


def test_dsir_weights_rank_target_lookalikes_first(spark, tmp_path):
    """Semantic check: docs written in the target (en) vocabulary get
    strictly higher importance weight than docs in a disjoint
    vocabulary — importance resampling would select the lookalikes."""
    from utility_service_areas_spark.plans.pipeline_queries import (
        docs_dsir_importance,
    )

    rows = []
    for i in range(10):
        rows.append((i, "table join scan filter table", "en", "s", 28))
    for i in range(10, 20):
        rows.append((i, "zorp blique frall zorp frall", "de", "s", 28))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = docs_dsir_importance(spark, str(tmp_path)).collect()
    en_w = [r.weight_millibits for r in got if r.lang == "en"]
    de_w = [r.weight_millibits for r in got if r.lang == "de"]
    assert min(en_w) > max(de_w)


def test_r13_text_ops_plan_shape(spark):
    """Registry-wide anti-pattern pins for the three new text/LLM ops:
    no cartesian product (the class/stats cross joins must all be
    broadcasts), no Python row UDF. (Exchange SinglePartition is NOT
    pinned away here: these plans each carry one 1-row global stats
    agg — V/N for NB, N_t/N_r for DSIR — whose final step is a
    32-partial-row single-partition agg, the same scalar-agg shape as
    #219's stats; the r12 no-SinglePartition pin targets kernels
    where a DATA-sized frame would collapse.)"""
    from tests.conftest import SMOKE_SF
    from utility_service_areas_spark.plans.pipeline_queries import (
        docs_dsir_importance,
    )
    from utility_service_areas_spark.plans.text_queries import (
        docs_gopher_quality_flags,
        text_naive_bayes_source,
    )

    for fn in (
        docs_gopher_quality_flags,
        text_naive_bayes_source,
        docs_dsir_importance,
    ):
        plan = _plan(fn(spark, SMOKE_SF))
        assert "CartesianProduct" not in plan, fn
        assert "BatchEvalPython" not in plan, fn


def test_cc_loop_label_identical_to_union_find(spark, monkeypatch):
    """The distributed min-label loop and the driver union-find fast
    path produce IDENTICAL (node, comp) labels on every adversarial
    topology — 20-deep chain (propagation's worst case), clique, star,
    two disjoint components, and a lollipop (clique + tail)."""
    from utility_service_areas_spark.operators import graph

    graphs = {
        "chain": [(i, i + 1) for i in range(100, 120)],
        "clique": [(i, j) for i in range(200, 210) for j in range(200, 210) if i < j],
        "star": [(300, i) for i in range(301, 320)],
        "two_comps": [(1, 2), (2, 3), (10, 11), (11, 12), (12, 10)],
        "lollipop": [(i, j) for i in range(400, 406) for j in range(400, 406) if i < j]
        + [(405, 406), (406, 407), (407, 408)],
    }
    pairs = {
        name: spark.createDataFrame(edges, "doc_a long, doc_b long")
        for name, edges in graphs.items()
    }
    want = {
        name: {(r.node, r.comp) for r in graph.connected_components(p).collect()}
        for name, p in pairs.items()
    }
    monkeypatch.setattr(graph, "_LOCAL_CC_EDGES", 0)
    for name, p in pairs.items():
        got = {(r.node, r.comp) for r in graph.connected_components(p).collect()}
        assert got == want[name], name
        # every component's label is its minimum member
        comp_members = {}
        for node, comp in got:
            comp_members.setdefault(comp, []).append(node)
        for comp, members in comp_members.items():
            assert comp == min(members + [comp]), name


def test_hits_planted_authority_ranking(spark):
    """Semantic pin on a planted bipartite graph: the authority cited
    by every hub outranks one cited by a single hub; the best hub
    (points at both authorities) holds the 1e6 max after
    normalization; all scores stay in (0, 1e6]."""
    from utility_service_areas_spark.operators.graph import hits_micros

    #  hubs 1..3 -> auth 100 (everyone), hub 1 -> auth 200 (only one)
    edges = [(1, 100), (2, 100), (3, 100), (1, 200)]
    got = {
        (r.side, r.node): r.score_micros
        for r in hits_micros(
            spark.createDataFrame(edges, "src long, dst long")
        ).collect()
    }
    assert got[("auth", 100)] == 1_000_000  # max-normalized
    assert 0 < got[("auth", 200)] < got[("auth", 100)]
    assert got[("hub", 1)] == 1_000_000  # points at both
    assert got[("hub", 2)] == got[("hub", 3)]  # symmetric hubs tie
    assert 0 < got[("hub", 2)] < got[("hub", 1)]


def _write_events(spark, path, rows):
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    ).write.mode("overwrite").parquet(f"{path}/events.parquet")


def test_cuped_perfect_covariate_equalizes_arms(spark, tmp_path):
    """Semantic pin: when Y == X for every user (theta = 1 exactly)
    and the arms differ ONLY through covariate imbalance, the CUPED-
    adjusted means of both arms collapse to the same value (the
    pooled mean) — the textbook variance-reduction identity — while
    the raw means differ."""
    import datetime as dt

    from utility_service_areas_spark.plans.analytics_queries import (
        abtest_cuped_adjusted,
    )

    pre = dt.datetime(2024, 1, 5)
    post = dt.datetime(2024, 1, 20)
    rows = []
    eid = 0
    for uid in range(40):
        spend = float(100 + 7 * uid)  # varies by user
        rows.append((eid, pre, uid, "purchase", spend, "{}")); eid += 1
        rows.append((eid, post, uid, "purchase", spend, "{}")); eid += 1
    _write_events(spark, str(tmp_path), rows)
    got = {r.variant: r for r in abtest_cuped_adjusted(spark, str(tmp_path)).collect()}
    assert set(got) == {"A", "B"}
    assert got["A"].theta_milli == got["B"].theta_milli == 1000  # theta == 1
    assert got["A"].raw_mean_milli != got["B"].raw_mean_milli  # imbalance
    assert got["A"].adj_mean_milli == got["B"].adj_mean_milli  # CUPED fixes it


def test_theil_sen_shrugs_off_outlier_day(spark, tmp_path):
    """Robustness pin: a clean 100-cents/day line with ONE absurd
    outlier day — the Theil-Sen slope stays at the true quantized
    slope (100_000 millicents/day) while OLS on the same data is
    pulled far away."""
    import datetime as dt

    from utility_service_areas_spark.plans.analytics_queries import (
        orders_theil_sen_trend,
    )

    rows = []
    for d in range(60):
        price = 1000.0 + 1.0 * d  # +100 cents/day
        if d == 30:
            price = 1_000_000.0  # outlier day
        rows.append(
            (d, 1, "O", price, dt.date(1995, 1, 1) + dt.timedelta(days=d),
             "1-URGENT", "c", 0, "x")
        )
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate date, o_orderpriority string, "
        "o_clerk string, o_shippriority long, o_comment string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    got = orders_theil_sen_trend(spark, str(tmp_path)).collect()
    assert len(got) == 1 and got[0].yr == 1995
    assert got[0].ts_slope_millicents_per_day == 100_000


def test_exact_quartiles_matches_brute_on_adversarial_shapes(spark, tmp_path):
    """The two-phase selection equals a brute python sort on shapes
    chosen to stress the bucketing: all-equal values (one bucket),
    99% duplicates + a tail, powers-of-two counts (even/odd k
    boundaries), and a 2-row frame."""
    import datetime as dt

    from utility_service_areas_spark.plans.analytics_queries import (
        events_exact_quartiles_nosort,
    )

    shapes = {
        "all_equal": [5.0] * 97,
        "dup_heavy": [1.0] * 990 + [float(i) for i in range(2, 12)],
        "even": [float(i) for i in range(64)],
        "odd": [float(i) for i in range(65)],
        "two": [3.0, 9.0],
    }
    ts = dt.datetime(2024, 1, 10)
    for name, vals in shapes.items():
        rows = [(i, ts, i, "e", v, "{}") for i, v in enumerate(vals)]
        # one dir per shape: overwriting a path just read poisons the
        # session's file-listing cache (FAILED_READ_FILE on stale parts)
        _write_events(spark, f"{tmp_path}/{name}", rows)
        got = events_exact_quartiles_nosort(spark, f"{tmp_path}/{name}").collect()[0]
        cents = sorted(round(v * 100) for v in vals)
        n = len(cents)
        want = (
            cents[(n - 1) // 4],
            cents[(n - 1) // 2],
            cents[(3 * (n - 1)) // 4],
        )
        assert (got.p25_cents, got.median_cents, got.p75_cents) == want, name
        assert got.n_events == n, name


def test_kl_drift_zero_for_identical_sources(spark, tmp_path):
    """A source whose token distribution IS the corpus distribution
    reads KL = 0 exactly; a disjoint-vocabulary source reads large
    positive KL."""
    from utility_service_areas_spark.plans.text_queries import source_kl_drift

    rows = []
    # srcA and srcB: identical distributions (same doc set)
    for i in range(10):
        rows.append((i, "apple banana cherry", "en", "srcA", 19))
        rows.append((100 + i, "apple banana cherry", "en", "srcB", 19))
    # srcC: disjoint vocabulary
    for i in range(10):
        rows.append((200 + i, "xylo ypsil zeta", "en", "srcC", 15))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {r.source: r.kl_millibits for r in source_kl_drift(spark, str(tmp_path)).collect()}
    assert got["srcA"] == got["srcB"]
    # A/B each hold 2/3 of a 2-distribution mixture... their KL vs the
    # blended corpus is small but NONZERO; C is far. Order pin:
    assert got["srcC"] > got["srcA"] > 0


def test_quality_pairs_tie_and_degenerate_groups(spark, tmp_path):
    """Tie-adversarial: (a) an all-equal-quality source yields NO
    pair; (b) quality ties on the best/worst ends break to the
    smaller doc_id on BOTH ends."""
    from utility_service_areas_spark.plans.text_queries import (
        quality_pair_mining,
    )

    rows = [
        # srcEq: three byte-identical docs -> identical scores -> no pair
        (1, "same words here", "en", "srcEq", 15),
        (2, "same words here", "en", "srcEq", 15),
        (3, "same words here", "en", "srcEq", 15),
        # srcTie: docs 10,11 identical GOOD; 20,21 identical BAD
        (10, "alpha beta gamma delta epsilon", "en", "srcTie", 30),
        (11, "alpha beta gamma delta epsilon", "en", "srcTie", 30),
        (20, "zzz zzz zzz zzz !!!! ????", "en", "srcTie", 25),
        (21, "zzz zzz zzz zzz !!!! ????", "en", "srcTie", 25),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {r.source: r for r in quality_pair_mining(spark, str(tmp_path)).collect()}
    assert "srcEq" not in got  # degenerate group -> no pair
    assert got["srcTie"].chosen_doc_id == 10  # tie -> smaller id
    assert got["srcTie"].rejected_doc_id == 20
    assert got["srcTie"].margin_micros > 0


def test_curriculum_rank_matches_global_sort_with_heavy_ties(spark, tmp_path):
    """The no-sort ranking equals a brute global sort, on a corpus
    where 90% of docs share one token count (the offsets + keyed
    row_number must agree with the single global window exactly)."""
    from utility_service_areas_spark.plans.text_queries import (
        docs_curriculum_rank,
    )

    rows = []
    for i in range(90):
        rows.append((i, "a b c", "en", "s", 5))  # 3 tokens, all tied
    for i in range(90, 95):
        rows.append((i, "a", "en", "s", 1))  # 1 token
    for i in range(95, 100):
        rows.append((i, "a b c d e f", "en", "s", 11))  # 6 tokens
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        r.doc_id: r.curriculum_rank
        for r in docs_curriculum_rank(spark, str(tmp_path)).collect()
    }
    n_tok = {i: (3 if i < 90 else (1 if i < 95 else 6)) for i in range(100)}
    order = sorted(range(100), key=lambda i: (n_tok[i], i))
    want = {doc: rank + 1 for rank, doc in enumerate(order)}
    assert got == want


def test_srm_check_healthy_splits_and_formula(spark):
    """All three IN-USE hash seeds read UNFLAGGED on the substrate (a
    flagged row means a broken split), and chi2_milli satisfies the
    closed form (n_a-n_b)^2 * 1000 / n recomputed in python."""
    from tests.conftest import SMOKE_SF
    from utility_service_areas_spark.plans.analytics_queries import (
        abtest_srm_check,
    )

    rows = abtest_srm_check(spark, SMOKE_SF).collect()
    assert {r.seed for r in rows} == {"ab1:", "cuped2:", "split:"}
    import math

    for r in rows:
        assert r.srm_flag == 0, r.seed
        want = math.floor(
            (r.n_a - r.n_b) ** 2 * 1000.0 / (r.n_a + r.n_b) + 0.5
        )
        assert r.chi2_milli == want


def test_srm_audit_catches_the_retired_cuped_seed():
    """The audit's one real catch, pinned forever: the repo's ORIGINAL
    CUPED seed 'cuped:' splits the sf0.01 customer keyspace 690/810
    (chi2_milli 9600 >> 3841, z~3.1) — a deterministic unlucky seed —
    which is why #245 runs on 'cuped2:' (chi2_milli 963, healthy).
    Recomputed here from first principles (hashlib), independent of
    both engines."""
    import hashlib
    import math

    def chi2_milli(seed: str, n: int) -> int:
        n_a = sum(
            1
            for i in range(n)
            if int(hashlib.md5(f"{seed}{i}".encode()).hexdigest()[:15], 16) % 2
            == 0
        )
        return math.floor((2 * n_a - n) ** 2 * 1000.0 / n + 0.5)

    assert chi2_milli("cuped:", 1500) == 9600  # the catch
    assert chi2_milli("cuped2:", 1500) < 3841  # the replacement
    assert chi2_milli("cuped2:", 150) < 3841
    assert chi2_milli("cuped2:", 15000) < 3841


def test_gini_known_distributions(spark, tmp_path):
    """Closed-form anchors: a perfectly uniform activity profile reads
    gini ~ 0 (exactly 0 by the lower-rank formula for equal x_i), and
    a planted extreme (one user with ~all events) reads near 1 —
    recomputed against a brute sorted-rank python Gini."""
    import datetime as dt

    from utility_service_areas_spark.plans.analytics_queries import (
        user_activity_gini,
    )

    ts = dt.datetime(2024, 1, 10)

    def write(name, per_user):
        rows = []
        eid = 0
        for uid, n in enumerate(per_user):
            for _ in range(n):
                rows.append((eid, ts, uid, "e", 1.0, "{}")); eid += 1
        _write_events(spark, f"{tmp_path}/{name}", rows)

    def brute(per_user):
        import math

        xs = sorted(per_user)
        n, t = len(xs), sum(xs)
        s1 = sum((i + 1) * x for i, x in enumerate(xs))
        return math.floor((2 * s1 - (n + 1) * t) * 1_000_000 / (n * t) + 0.5)

    cases = {
        "uniform": [5] * 40,
        "extreme": [1] * 9 + [991],
        "mixed": [1, 1, 2, 3, 5, 8, 13, 21, 34, 55],
    }
    for name, per_user in cases.items():
        write(name, per_user)
        got = user_activity_gini(spark, f"{tmp_path}/{name}").collect()[0]
        assert got.gini_micros == brute(per_user), name
        assert got.n_users == len(per_user)
    assert brute(cases["uniform"]) == 0
    assert brute(cases["extreme"]) > 880_000


def test_chi2_independent_and_coupled_tables(spark, tmp_path):
    """A perfectly INDEPENDENT contingency table reads chi2 = 0
    exactly (every O equals E, integer-arged); a perfectly COUPLED one
    (brand determines type) reads chi2_milli ~ n*(min_dim-1)*1000."""
    from utility_service_areas_spark.plans.analytics_queries import (
        part_brand_type_chi2,
    )

    def write(name, rows):
        spark.createDataFrame(
            [
                (i, "nm", b, t, 1, 9.99)
                for i, (b, t) in enumerate(rows)
            ],
            "p_partkey long, p_name string, p_brand string, p_type string, "
            "p_size long, p_retailprice double",
        ).write.mode("overwrite").parquet(f"{tmp_path}/{name}/part.parquet")

    indep = [(b, t) for b in ("B1", "B2") for t in ("T1", "T2") for _ in range(25)]
    write("indep", indep)
    got = part_brand_type_chi2(spark, f"{tmp_path}/indep").collect()[0]
    assert (got.chi2_milli, got.dof, got.n_cells) == (0, 1, 4)

    coupled = [("B1", "T1")] * 50 + [("B2", "T2")] * 50
    write("coupled", coupled)
    got = part_brand_type_chi2(spark, f"{tmp_path}/coupled").collect()[0]
    # full grid: the two ZERO cells must be materialized (4 cells, not
    # the 2 observed) — without them chi2 read 50000, half the truth
    assert got.dof == 1 and got.n_cells == 4
    assert got.chi2_milli == 100 * 1000  # chi2 == n for a perfect 2x2 coupling


def test_vocab_coverage_boundaries_and_tie_runs(spark, tmp_path):
    """K exactly at a tie-run boundary and K splitting a tie run both
    give the value-exact coverage (tied types are interchangeable);
    K beyond the vocabulary covers everything."""
    from utility_service_areas_spark.plans.text_queries import (
        vocab_coverage_sweep,
    )

    # vocabulary: 1 type x 100, 15 types x 10 each, 200 types x 1
    text_parts = ["big"] * 100
    for i in range(15):
        text_parts += [f"mid{i}"] * 10
    for i in range(200):
        text_parts.append(f"rare{i:03d}")
    _write_docs(spark, str(tmp_path), [(1, " ".join(text_parts))])
    got = {
        r.vocab_k: (r.covered_tokens, r.total_tokens, r.coverage_micros)
        for r in vocab_coverage_sweep(spark, str(tmp_path)).collect()
    }
    total = 100 + 150 + 200
    # K=16 = exactly {big} + all 15 mid types (boundary)
    assert got[16][0] == 100 + 150
    # K=64 splits the 200-type rare tie run: 100+150 + (64-16)*1
    assert got[64][0] == 100 + 150 + 48
    # K=256 and K=1024 exceed the 216-type vocabulary: full coverage
    assert got[256][0] == total and got[1024][0] == total
    assert got[1024][2] == 1_000_000


def test_seasonality_index_sums_to_twelve(spark):
    """Partition-of-unity property on the substrate: the 12 indices
    average to ~1e6 (sum ~ 12e6, floor-rounding slack <= 12) and every
    month is present."""
    from tests.conftest import SMOKE_SF
    from utility_service_areas_spark.plans.analytics_queries import (
        orders_seasonality_index,
    )

    rows = orders_seasonality_index(spark, SMOKE_SF).collect()
    assert {r.mon for r in rows} == set(range(1, 13))
    s = sum(r.index_micros for r in rows)
    assert 12_000_000 - 12 <= s <= 12_000_000 + 12


def test_heaps_fit_recovers_planted_exponent(spark, tmp_path):
    """Semantic pin: a corpus planted with V = N^0.5 per source (each
    source's doc holds sqrt(N) distinct types cycled N times) fits
    beta ~ 0.5; a full-diversity corpus (every token distinct) fits
    beta ~ 1."""
    from utility_service_areas_spark.plans.text_queries import corpus_heaps_fit

    def corpus(name, beta_one):
        rows = []
        for si, n in enumerate((256, 1024, 4096)):
            if beta_one:
                words = [f"s{si}w{j}" for j in range(n)]
            else:
                v = int(n**0.5)
                words = [f"s{si}w{j % v}" for j in range(n)]
            rows.append((si, " ".join(words), "en", f"src{si}", len(words)))
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.mode("overwrite").parquet(f"{tmp_path}/{name}/documents.parquet")

    corpus("sqrt", beta_one=False)
    got = corpus_heaps_fit(spark, f"{tmp_path}/sqrt").collect()[0]
    assert got.n_points == 3
    assert 450_000 <= got.beta_micros <= 550_000

    corpus("full", beta_one=True)
    got = corpus_heaps_fit(spark, f"{tmp_path}/full").collect()[0]
    assert 990_000 <= got.beta_micros <= 1_010_000


def test_poisson_ci_brackets_rate_and_scales(spark, tmp_path):
    """The CI must bracket the point rate symmetrically in n-space,
    and a planted 2-type stream (one type 4x the other) reads a 2x
    rate ratio... 4x ratio exactly (counts are exact)."""
    import datetime as dt

    from utility_service_areas_spark.plans.event_queries import (
        events_poisson_rate_ci,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for i in range(400):
        rows.append((eid, t0 + dt.timedelta(seconds=9 * i), 1, "hot", 1.0, "{}"))
        eid += 1
    for i in range(100):
        rows.append((eid, t0 + dt.timedelta(seconds=36 * i), 2, "cold", 1.0, "{}"))
        eid += 1
    _write_events(spark, str(tmp_path), rows)
    got = {r.event_type: r for r in events_poisson_rate_ci(spark, str(tmp_path)).collect()}
    assert got["hot"].n_events == 400 and got["cold"].n_events == 100
    # same observation span for every type (global), 4x count -> 4x rate
    assert got["hot"].span_seconds == got["cold"].span_seconds
    assert abs(got["hot"].rate_milli_per_hour - 4 * got["cold"].rate_milli_per_hour) <= 3
    for r in got.values():
        assert r.ci_lo_milli < r.rate_milli_per_hour < r.ci_hi_milli
