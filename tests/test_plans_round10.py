"""Plan locks for the round-10 scale fixes (VERDICT r09 what's-wrong #1
/ next-round #2):

* the LAST two vocabulary-scaled broadcast hints are gone — q_text_pmi's
  unigram-count joins and q_text_lm_score's bigram-probability join are
  keyed by open-vocabulary columns (token / bigram types grow with the
  corpus), so neither may carry a FORCED broadcast hint. As with the
  round-9 tfidf/dedup gates, the check reads the OPTIMIZED LOGICAL plan
  for hint residue (``strategy=broadcast``), not the physical plan —
  AQE broadcasting a small built side at runtime is the desired
  behavior, a plan-time hint on a data-scaled table is the 100 TB OOM.
  The single permitted hint in each plan is the 1-row corpus-size
  aggregate — scalar at any scale.
"""

from __future__ import annotations

from tests.conftest import SF_SMOKE
from zonal_datacube_spark.registry import all_queries

Q = all_queries()


def _optimized(spark, key: str) -> str:
    return (
        Q[key](spark, SF_SMOKE)._jdf.queryExecution().optimizedPlan().toString()
    )


def test_pmi_unigram_joins_are_not_hint_forced(spark):
    # unigram tables are keyed by token (open vocabulary): no hint on
    # either n_a/n_b join; the only hint left is the 1-row n_docs cross
    # join.
    plan = _optimized(spark, "q_text_pmi")
    for line in plan.splitlines():
        if "Join" in line and ("w1#" in line or "w2#" in line):
            assert "strategy=broadcast" not in line, line
    assert plan.count("strategy=broadcast") == 1, plan


def test_lm_score_probability_join_is_not_hint_forced(spark):
    # the conditional-probability table is keyed by the bigram (vocab²
    # upper bound, open vocabulary): no forced hint anywhere in the plan.
    plan = _optimized(spark, "q_text_lm_score")
    assert "strategy=broadcast" not in plan, plan


def test_dsir_ratio_join_is_not_hint_forced(spark):
    # the DSIR log-ratio table is keyed by the bigram (the q_text_lm_score
    # contract): its attach join must not be hint-forced; the only hint in
    # the plan is the 1-row totals (n_raw/n_tgt/v_types) cross join.
    plan = _optimized(spark, "q_data_dsir_weights")
    for line in plan.splitlines():
        if "Join" in line and ("w1#" in line or "w2#" in line):
            assert "strategy=broadcast" not in line, line
    assert plan.count("strategy=broadcast") == 1, plan


def test_no_open_vocabulary_broadcast_hint_anywhere_in_text_ops():
    # grep-level backstop (VERDICT r09 done-criterion: "grep-clean"):
    # the only F.broadcast( sites left in the text/dedup operator files
    # must be scalar or top-K-bounded frames, never a frequency table
    # keyed by a raw token/shingle/bigram column. Lock the site count so
    # a new hint has to justify itself against this list.
    import os

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ops = os.path.join(here, "zonal_datacube_spark", "operators")
    allowed = {
        # file -> max permitted F.broadcast( occurrences, all audited
        # scalar (1-row aggregates) or K-bounded (top-K caps) frames:
        # text.py:55 tfidf n_docs (1 row), :270 vocab_coverage top-K
        # (K-bounded), :468 pmi n_docs (1 row), :536 filter_funnel total
        # (1 row), :622 rake stopwords (top RAKE_STOPWORDS), :674
        # js_divergence per-language totals (language enum);
        # text_retrieval.py:99/:239 bm25 corpus stats (1 row), :132 bm25
        # per-term thresholds (one row per query term), :270 wand theta
        # (1 row), :450 rrf probe (1 row), :597 retrieval n_probes
        # (1 row); dedup.py:348 minhash_eval n_truth (1 row)
        "text.py": 6,
        "text_retrieval.py": 6,
        "dedup.py": 1,
        "similarity.py": None,  # centroid/codebook frames: k-bounded
    }
    for fname, cap in allowed.items():
        if cap is None:
            continue
        with open(os.path.join(ops, fname)) as fh:
            n = fh.read().count("F.broadcast(")
        assert n <= cap, f"{fname}: {n} broadcast hints (max {cap})"
