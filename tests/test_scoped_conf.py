"""session.scoped_conf — the one save/set/restore scope for session conf.

Pins: (1) the conf is restored when the block raises, and a nested scope
restores the outer scope's value; (2) a key unset before the scope is
unset again after it; (3) a second thread cannot open a scope on the
SparkContext while another thread's scope is open; (4) no package module
other than session.py sets session conf itself."""

from __future__ import annotations

import glob
import os
import re
import threading

import pytest

from zonal_datacube_spark.session import scoped_conf

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "zonal_datacube_spark")
PARTITIONS = "spark.sql.shuffle.partitions"
UNSET_KEY = "spark.zds.test.scoped_conf"


def test_conf_restored_after_exception(spark):
    before = spark.conf.get(PARTITIONS)
    with pytest.raises(ValueError):
        with scoped_conf(spark, {PARTITIONS: "3"}):
            assert spark.conf.get(PARTITIONS) == "3"
            with scoped_conf(spark, {PARTITIONS: "5"}):
                assert spark.conf.get(PARTITIONS) == "5"
            assert spark.conf.get(PARTITIONS) == "3"
            raise ValueError("inside the scope")
    assert spark.conf.get(PARTITIONS) == before


def test_absent_key_is_unset_afterwards(spark):
    assert spark.conf.get(UNSET_KEY, None) is None
    with scoped_conf(spark, {UNSET_KEY: "on"}):
        assert spark.conf.get(UNSET_KEY) == "on"
    assert spark.conf.get(UNSET_KEY, None) is None


def test_scope_from_a_second_thread_raises(spark):
    inside, release = threading.Event(), threading.Event()

    def hold():
        with scoped_conf(spark, {UNSET_KEY: "first"}):
            inside.set()
            release.wait(60)

    holder = threading.Thread(target=hold)
    holder.start()
    try:
        assert inside.wait(60)
        with pytest.raises(RuntimeError, match="another thread"):
            with scoped_conf(spark, {UNSET_KEY: "second"}):
                pass
        assert spark.conf.get(UNSET_KEY) == "first"
    finally:
        release.set()
        holder.join()
    assert spark.conf.get(UNSET_KEY, None) is None
    with scoped_conf(spark, {UNSET_KEY: "second"}):  # released: now allowed
        assert spark.conf.get(UNSET_KEY) == "second"


def test_only_session_and_loader_set_session_conf():
    allowed = {"session.py"}
    offences = []
    for path in sorted(glob.glob(os.path.join(PACKAGE, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, PACKAGE)
        if rel not in allowed and re.search(r"\.conf\.(set|unset)\(", open(path).read()):
            offences.append(rel)
    assert offences == []
