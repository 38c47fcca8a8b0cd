"""Behavior + plan locks for the round-3 training-data-pipeline operators
(span dedup, decontamination, mixture sampling, sequence packing, embedding
quantization) and the materialized-view rollup."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from zonal_datacube_spark.operators.pipeline_ext import (
    BENCH_GRAMS,
    MIX_BUCKETS,
    PACK_CAP,
    q_dedup_span,
    q_embed_quantize,
    q_pack_sequences,
    q_sample_weighted,
    q_text_contamination,
)
from zonal_datacube_spark.operators.warehouse import q_mv_rewrite
from zonal_datacube_spark.plans.diagnostics import formatted_plan
from zonal_datacube_spark.sources.loader import load_table


def test_dedup_span_fraction_bounds_and_symmetry(spark):
    rows = q_dedup_span(spark, SF_SMOKE).collect()
    assert rows, "every long-enough doc gets a row"
    for r in rows:
        assert 0 <= r.n_dup_spans <= r.n_spans
        assert 0.0 <= r.dup_span_frac <= 1.0
    # a span shared by docs A and B marks BOTH docs — dup spans can never
    # total an odd 1 across the corpus
    total_dup = sum(r.n_dup_spans for r in rows)
    assert total_dup == 0 or total_dup >= 2


def test_dedup_span_never_all_pairs(spark):
    plan = formatted_plan(q_dedup_span(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_contamination_hits_are_real(spark):
    hits = {r.doc_id: r for r in q_text_contamination(spark, SF_SMOKE).collect()}
    docs = {
        r.doc_id: r.text.lower()
        for r in load_table(spark, SF_SMOKE, "documents").collect()
    }
    for doc_id, r in hits.items():
        assert any(g in docs[doc_id] for g in BENCH_GRAMS)
        assert 1 <= r.n_bench_grams <= len(BENCH_GRAMS)
        assert r.n_hits >= r.n_bench_grams
    # and no contaminated doc is missed (substring match can only be
    # broader than token-boundary match on this single-space fixture)
    for doc_id, text in docs.items():
        token_grams = set()
        toks = text.split(" ")
        for i in range(len(toks) - 2):
            token_grams.add(" ".join(toks[i : i + 3]))
        expected = token_grams & set(BENCH_GRAMS)
        assert (doc_id in hits) == bool(expected)


def test_sample_weighted_rates_track_targets(spark):
    rows = {r.lang: r for r in q_sample_weighted(spark, SF_SMOKE).collect()}
    assert set(rows) == set(MIX_BUCKETS)
    for lang, r in rows.items():
        assert 0 <= r.n_kept <= r.n_total
        target = MIX_BUCKETS[lang] / 256.0
        # deterministic hash sample: realized rate is near target but
        # exact equality is not promised at small n
        assert abs(r.realized_rate - target) < 0.35


def test_sample_weighted_is_deterministic(spark):
    a = sorted(map(tuple, q_sample_weighted(spark, SF_SMOKE).collect()))
    b = sorted(map(tuple, q_sample_weighted(spark, SF_SMOKE).collect()))
    assert a == b


def test_pack_sequences_conservation_and_capacity(spark):
    rows = q_pack_sequences(spark, SF_SMOKE).collect()
    docs = load_table(spark, SF_SMOKE, "documents").withColumn(
        "n", F.size(F.split(F.lower("text"), " "))
    )
    per_lang_tokens = {
        r.lang: r.total
        for r in docs.groupBy("lang").agg(F.sum("n").alias("total")).collect()
    }
    per_lang_docs = {
        r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, seqs in by_lang.items():
        # conservation: every token and every doc lands in exactly one seq
        assert sum(r.n_tokens for r in seqs) == per_lang_tokens[lang]
        assert sum(r.n_docs for r in seqs) == per_lang_docs[lang]
        # seq ids cover 0..ceil(total/cap)-1 with no gaps beyond empties
        # (a sequence with no doc START can be absent; ids never exceed it)
        max_seq = max(r.seq_id for r in seqs)
        assert max_seq <= math.ceil(per_lang_tokens[lang] / PACK_CAP) - 1
        for r in seqs:
            assert r.n_boundary_docs <= r.n_docs


def test_embed_quantize_error_is_sub_lsb(spark):
    rows = q_embed_quantize(spark, SF_SMOKE).collect()
    assert {r.label for r in rows} == set(range(10))
    for r in rows:
        assert r.avg_scale > 0
        # quantization noise must be below one LSB² (s²), i.e. the
        # reconstruction is genuinely int8-accurate, not garbage
        assert 0 <= r.mse_e6 < (r.avg_scale * 127) ** 2 * 1e6
        # and below the uniform-quantization bound s²/12 with slack
        assert r.mse_e6 <= (r.avg_scale**2 / 12) * 1e6 * 3


def test_split_is_leakage_safe(spark):
    """Identical content must land in ONE split — recompute the doc-level
    assignment and check every digest maps to a single split, and that
    realized fractions track the 80/10/10 targets."""
    from zonal_datacube_spark.operators.pipeline_ext import (
        SPLIT_TRAIN_LT,
        SPLIT_VAL_LT,
        q_split_train_test,
    )

    out = q_split_train_test(spark, SF_SMOKE).collect()
    docs = load_table(spark, SF_SMOKE, "documents").withColumn(
        "digest", F.md5("text")
    )
    bucket = F.expr(
        "(locate(substr(md5(digest), 1, 1), '0123456789abcdef') - 1) * 16"
        " + locate(substr(md5(digest), 2, 1), '0123456789abcdef') - 1"
    )
    split = (
        F.when(bucket < SPLIT_TRAIN_LT, "train")
        .when(bucket < SPLIT_VAL_LT, "val")
        .otherwise("test")
    )
    per_digest = (
        docs.withColumn("split", split)
        .groupBy("digest")
        .agg(F.countDistinct("split").alias("n_splits"))
        .collect()
    )
    assert all(r.n_splits == 1 for r in per_digest)  # no digest straddles
    n_total = sum(r.n_docs for r in out)
    n_train = sum(r.n_docs for r in out if r.split == "train")
    assert abs(n_train / n_total - SPLIT_TRAIN_LT / 256) < 0.15
    for r in out:
        assert r.n_contents <= r.n_docs


def test_drift_psi_shares_sum_to_one(spark):
    from zonal_datacube_spark.operators.pipeline_ext import q_drift_psi

    rows = q_drift_psi(spark, SF_SMOKE).collect()
    assert rows
    # inner-joined bins cover essentially the full mass on this fixture
    assert 0.97 < sum(r.p_ref for r in rows) <= 1.000001
    assert 0.97 < sum(r.q_cur for r in rows) <= 1.000001
    for r in rows:
        assert r.p_ref > 0 and r.q_cur > 0
        # each term's sign follows (q-p)·ln(q/p) ≥ 0 always
        assert r.psi_term >= -1e-9


def test_lm_score_bounds_and_coverage(spark):
    from zonal_datacube_spark.operators.text import q_text_lm_score

    rows = q_text_lm_score(spark, SF_SMOKE).collect()
    docs = load_table(spark, SF_SMOKE, "documents")
    n_eligible = docs.filter(
        F.size(F.split(F.lower("text"), " ")) >= 2
    ).count()
    assert len(rows) == n_eligible  # every scoreable doc gets a score
    for r in rows:
        assert r.avg_logp <= 0.0  # log-probs are never positive
        assert r.n_bigrams >= 1


def test_image_patches_tile_the_image_exactly(spark):
    from zonal_datacube_spark.operators.media import PATCH_PX, q_media_image_patches

    rows = q_media_image_patches(spark, SF_SMOKE).collect()
    by_img: dict[int, list] = {}
    for r in rows:
        by_img.setdefault(r.media_id, []).append(r)
    for media_id, ps in by_img.items():
        w, h = ps[0].width, ps[0].height
        n_cols, n_rows = w // PATCH_PX, h // PATCH_PX
        assert len(ps) == n_cols * n_rows  # full grid, nothing doubled
        assert len({p.patch_idx for p in ps}) == len(ps)
        for p in ps:
            assert 0 <= p.x0 <= w - PATCH_PX
            assert 0 <= p.y0 <= h - PATCH_PX
            assert p.x0 % PATCH_PX == 0 and p.y0 % PATCH_PX == 0


def test_mv_rewrite_matches_direct_aggregate(spark):
    from_mv = {
        (r.month, r.event_type): r for r in q_mv_rewrite(spark, SF_SMOKE).collect()
    }
    ev = load_table(spark, SF_SMOKE, "events")
    direct = {
        (r.month, r.event_type): r
        for r in ev.groupBy(
            F.date_format(F.date_trunc("month", "ts"), "yyyy-MM").alias("month"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .collect()
    }
    assert set(from_mv) == set(direct)
    for k, r in from_mv.items():
        assert r.n_events == direct[k].n_events
        assert abs(r.sum_value - direct[k].sum_value) < 0.02


def test_mv_rewrite_reads_mv_not_base(spark):
    plan = formatted_plan(q_mv_rewrite(spark, SF_SMOKE))
    assert "zds_layouts" in plan and "mv_daily_events" in plan
    assert "events.parquet" not in plan


def test_containment_catches_what_jaccard_misses(spark):
    """Containment's reason to exist: embedded docs score high on C(A->B)
    even when symmetric Jaccard is low. Verify every reported pair's
    containment exceeds its Jaccard, the orientation puts the smaller
    shingle set first, and values are valid."""
    from zonal_datacube_spark.operators.dedup import (
        CONTAIN_TAU,
        _doc_shingle_arrays,
        q_dedup_containment,
    )

    rows = q_dedup_containment(spark, SF_SMOKE).collect()
    sizes = {
        r.doc_id: r.n_sh
        for r in _doc_shingle_arrays(spark, SF_SMOKE).collect()
    }
    for r in rows:
        na, nb = sizes[r.a_id], sizes[r.b_id]
        assert na < nb or (na == nb and r.a_id < r.b_id)
        assert CONTAIN_TAU <= r.containment <= 1.0
        jaccard = r.inter / (na + nb - r.inter)
        assert r.containment >= jaccard
