"""Differential proof for the round-10 q_er_fuzzy_block name-grain
rewrite: the grain fold must be row-for-row identical to the row-grain
pair enumeration it replaces — on the fixture AND on engineered corpora
hitting every fold term (duplicate groups, singleton names, interleaved
keys across groups, cross-brand name reuse, distances 0/1/2 and a
rejected 3)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from zonal_datacube_spark.operators.dedup import (
    _er_fuzzy_grain,
    _er_fuzzy_naive,
    _er_parts,
)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_grain_fold_matches_row_grain_on_fixture(spark):
    parts = _er_parts(spark, SF_SMOKE)
    assert _rows(_er_fuzzy_grain(parts)) == _rows(_er_fuzzy_naive(parts))


def _mk_parts(spark, rows):
    df = spark.createDataFrame(rows, "p_partkey long, p_brand string, p_name string")
    return df.withColumn("blk", F.substring("p_name", 1, 1))


def test_grain_fold_matches_row_grain_on_engineered_corpus(spark):
    rows = [
        # brand A: "ring" x3 (keys interleaved with "rink" group),
        # lev(ring, rink)=1, lev(ring, rings)=1, lev(rink, rings)=2
        (5, "A", "ring"),
        (9, "A", "ring"),
        (2, "A", "ring"),
        (1, "A", "rink"),
        (7, "A", "rink"),
        (3, "A", "rings"),
        # same block, too far: lev(ring, rapid)=4
        (11, "A", "rapid"),
        # different block letter -> never candidates despite lev 1
        (12, "A", "sing"),
        # brand B reuses a brand-A name (brands never mix)
        (20, "B", "ring"),
        (21, "B", "rink"),
        # brand C: singleton only -> no pairs at all
        (30, "C", "zebra"),
    ]
    parts = _mk_parts(spark, rows)
    got = _rows(_er_fuzzy_grain(parts))
    want = _rows(_er_fuzzy_naive(parts))
    assert got == want
    # spot-check the fold terms by hand: brand A d=0 pairs = C(3,2) for
    # "ring" + C(2,2) for "rink" = 4, left = {2,5} u {1} = 3; d=1 pairs
    # = ring x rink (3*2) + ring x rings (3*1) = 9
    as_dict = {(b, d): (np, nl) for b, d, np, nl in got}
    assert as_dict[("A", 0)] == (4, 3)
    assert as_dict[("A", 1)][0] == 9
    assert ("A", 3) not in as_dict and ("C", 0) not in as_dict


def test_grain_fold_left_entities_respect_key_order(spark):
    # partner max below every key in the group -> zero left entities
    # from that side; the naive plan must agree
    rows = [
        (100, "A", "ring"),
        (101, "A", "ring"),
        (1, "A", "rink"),  # rink's only partner-max is 101 > 1
    ]
    parts = _mk_parts(spark, rows)
    got = _rows(_er_fuzzy_grain(parts))
    assert got == _rows(_er_fuzzy_naive(parts))
    as_dict = {(b, d): (np, nl) for b, d, np, nl in got}
    # d=1: pairs (1,100),(1,101) -> n_pairs 2, left entities {1}
    assert as_dict[("A", 1)] == (2, 1)
    # d=0: pair (100,101) -> left {100}
    assert as_dict[("A", 0)] == (1, 1)
