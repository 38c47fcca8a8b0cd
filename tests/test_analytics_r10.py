"""Round-10 keys: cost-bounded auto-bits LSH join + AQE skew-split
demonstration (VERDICT r09 next-round #7)."""

from __future__ import annotations

import pandas as pd

from tests.conftest import SF_SMOKE
from zonal_datacube_spark.operators.joins import q_join_skew_split
from zonal_datacube_spark.operators.similarity import (
    SIM_AUTO_MAX_BITS,
    SIM_AUTO_MIN_BITS,
    SIM_AUTO_TARGET_OCC,
    _auto_bits,
    q_sim_join_auto,
)
from zonal_datacube_spark.operators.similarity import SIM_JOIN_TAU


def test_auto_bits_integer_ladder():
    # clamps
    assert _auto_bits(0) == SIM_AUTO_MIN_BITS
    assert _auto_bits(1) == SIM_AUTO_MIN_BITS
    assert _auto_bits(10**12) == SIM_AUTO_MAX_BITS
    # exact boundaries: smallest b with occ * 2^b >= n
    for b in range(SIM_AUTO_MIN_BITS, SIM_AUTO_MAX_BITS):
        edge = SIM_AUTO_TARGET_OCC << b
        assert _auto_bits(edge) == b
        assert _auto_bits(edge + 1) == min(b + 1, SIM_AUTO_MAX_BITS)
    # the fixture sizes exercise two different rungs (500 -> 5, 2000 -> 7)
    assert _auto_bits(500) == 5
    assert _auto_bits(2000) == 7


def test_sim_join_auto_pairs_are_exact_and_sound(spark):
    """LSH blocking may MISS pairs (recall is the dial) but must never
    fabricate one: every returned pair shares the label, scores >= tau
    against the full-precision vectors, and the chosen bits/n ride the
    output."""
    emb = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet")
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in emb.itertuples()}
    labels = {r.vec_id: r.label for r in emb.itertuples()}
    rows = q_sim_join_auto(spark, SF_SMOKE).collect()
    assert rows, "fixture must produce at least one candidate pair"
    n, bits = len(emb), _auto_bits(len(emb))
    for r in rows:
        assert r.n_corpus == n and r.bits == bits
        assert r.a_id < r.b_id
        assert labels[r.a_id] == labels[r.b_id] == r.label
        dot = sum(x * y for x, y in zip(vecs[r.a_id], vecs[r.b_id]))
        import math

        assert abs(math.floor(dot * 1e6 + 0.5) / 1e6 - r.score) < 1e-9
        assert r.score >= SIM_JOIN_TAU


def test_skew_split_fires_and_preserves_results(spark):
    """The engineered hot key (57% of lineitem on one orderkey) must
    actually trigger AQE's OptimizeSkewedJoin once its preconditions
    hold — fixture-reachable thresholds, broadcast path off, and a
    MULTI-MAPPER fact side (AQE splits a skewed reducer partition by
    regrouping map outputs, so a single-file fixture scan's one mapper
    is unsplittable; a repartition(8) stands in for the thousands of
    mappers a 100 TB fact arrives from) — the executed plan carries a
    skew=true sort-merge join, and the split run's rows are identical
    to the default-conf declared key's (AQE re-plans the exchange,
    never the answer)."""
    from zonal_datacube_spark.operators.joins import _skew_join_fold, _skewed_fact
    from zonal_datacube_spark.sources.loader import load_table

    baseline = sorted(map(tuple, q_join_skew_split(spark, SF_SMOKE).collect()))
    assert len(baseline) >= 2  # hot group + cold groups
    hot = [t for t in baseline if t[0] is True]
    cold_items = sum(t[2] for t in baseline if t[0] is False)
    assert len(hot) == 1 and hot[0][2] > cold_items  # majority on one key

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2KB",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = _skewed_fact(load_table(spark, SF_SMOKE, "lineitem")).repartition(8)
        orders = load_table(spark, SF_SMOKE, "orders").select(
            "o_orderkey", "o_orderpriority"
        )
        df = _skew_join_fold(li, orders)
        split_rows = sorted(map(tuple, df.collect()))
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
        assert "skewed" in plan  # the AQEShuffleRead actually split
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert split_rows == baseline


def test_hard_negatives_match_bruteforce(spark):
    """numpy referee: each probe's positives are exactly the top-3
    same-label neighbors and its hard negatives the top-3 cross-label
    ones, ranked by exact cosine with the (score desc, id asc)
    tiebreak."""
    import math

    from zonal_datacube_spark.operators.embedding_eval import (
        _HARDNEG_PROBES,
        HARDNEG_K,
        q_sim_hard_negatives,
    )

    emb = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet")
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in emb.itertuples()}
    labels = {r.vec_id: r.label for r in emb.itertuples()}

    got = {}
    for r in q_sim_hard_negatives(spark, SF_SMOKE).collect():
        got.setdefault((r.probe_id, r.is_positive), []).append(
            (r.rn, r.neighbor_id, r.score)
        )

    for p in _HARDNEG_PROBES:
        ranked = sorted(
            (
                (
                    -math.floor(
                        sum(x * y for x, y in zip(vecs[p], vecs[v])) * 1e6 + 0.5
                    )
                    / 1e6,
                    v,
                )
                for v in vecs
                if v != p
            ),
        )
        for arm in (True, False):
            want = [
                (i + 1, v, -s)
                for i, (s, v) in enumerate(
                    [(s, v) for s, v in ranked if (labels[v] == labels[p]) == arm][
                        :HARDNEG_K
                    ]
                )
            ]
            assert got[(p, arm)] == want, (p, arm)


def test_bpe_pairs_match_python_referee(spark):
    """Pure-Python referee: adjacent char-pair counts weighted by corpus
    term frequency, top-20 with the pair tiebreak."""
    from collections import Counter

    from zonal_datacube_spark.operators.text import BPE_TOPK, q_text_bpe_pairs

    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    tok_counts = Counter(
        t for text in docs["text"] for t in text.lower().split(" ")
    )
    pair_counts = Counter()
    for tok, n in tok_counts.items():
        if len(tok) >= 2:
            for i in range(len(tok) - 1):
                pair_counts[tok[i : i + 2]] += n
    want = sorted(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))[:BPE_TOPK]
    got = [
        (r.pair, r.n_occurrences)
        for r in q_text_bpe_pairs(spark, SF_SMOKE).collect()
    ]
    assert got == want


def test_skew_fold_exact_past_int64(spark):
    """The DECIMAL(38,0) revenue fold must stay exact where a BIGINT
    accumulator overflows: five rows of 4e18 rev_e4 sum to 2e19 > 2^63,
    and the emitted digit string must be Python-exact."""
    from zonal_datacube_spark.operators.joins import SKEW_HOT_KEY, _skew_join_fold

    big = 4_000_000_000_000_000_000  # 4e18; 5x sum = 2e19 > int64 max
    li = spark.createDataFrame(
        [(SKEW_HOT_KEY, big)] * 5 + [(7, 123)], "jk long, rev_e4 long"
    )
    orders = spark.createDataFrame(
        [(SKEW_HOT_KEY, "1-URGENT"), (7, "5-LOW")],
        "o_orderkey long, o_orderpriority string",
    )
    got = {
        (r.is_hot, r.o_orderpriority): (r.n_items, r.revenue_e4)
        for r in _skew_join_fold(li, orders).collect()
    }
    assert got == {
        (True, "1-URGENT"): (5, str(5 * big)),
        (False, "5-LOW"): (1, "123"),
    }
