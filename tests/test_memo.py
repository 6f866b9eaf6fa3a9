"""session.memo: the one SparkContext-scoped memo for shared derived
state. JVM-free — stub sessions carry only an applicationId."""

from __future__ import annotations

import os
from collections import OrderedDict
from types import SimpleNamespace

import pytest
from py4j.protocol import Py4JJavaError

from cdc2vec_spark import session


def _spark(app: str = "app-1"):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app))


@pytest.fixture(autouse=True)
def fresh_memo(monkeypatch):
    # isolate from entries the Spark-backed tests hold in this process
    monkeypatch.setattr(session, "_MEMO", OrderedDict())


def _memo(spark, key, released):
    return session.memo(spark, key, lambda: object(), released.append)


def test_hit_returns_same_object_and_refreshes_recency():
    spark, released = _spark(), []
    first = _memo(spark, ("ns", 0), released)
    for i in range(1, session.MEMO_MAX):
        _memo(spark, ("ns", i), released)
    assert _memo(spark, ("ns", 0), released) is first
    # ("ns", 0) was just used, so the next insert evicts ("ns", 1)
    _memo(spark, ("ns", "new"), released)
    assert len(released) == 1
    assert _memo(spark, ("ns", 0), released) is first


def test_fifth_key_evicts_and_releases_the_oldest():
    spark, released = _spark(), []
    values = [_memo(spark, ("ns", i), released) for i in range(session.MEMO_MAX)]
    assert released == []
    _memo(spark, ("ns", session.MEMO_MAX), released)
    assert released == [values[0]]
    assert _memo(spark, ("ns", 0), released) is not values[0]


def test_namespaces_do_not_evict_each_other():
    spark, released = _spark(), []
    a = [_memo(spark, ("a", i), released) for i in range(session.MEMO_MAX)]
    b = [_memo(spark, ("b", i), released) for i in range(session.MEMO_MAX)]
    assert released == []
    assert [_memo(spark, ("a", i), released) for i in range(session.MEMO_MAX)] == a
    assert [_memo(spark, ("b", i), released) for i in range(session.MEMO_MAX)] == b
    assert released == []


def test_stale_application_entry_is_dropped_and_never_returned():
    released = []
    old = _memo(_spark("app-1"), ("ns", 0), released)
    new = _memo(_spark("app-2"), ("ns", 0), released)
    assert new is not old
    assert released == [old]
    assert _memo(_spark("app-2"), ("ns", 0), released) is new


def test_dead_context_unpersist_error_does_not_fail_the_next_call():
    released = []

    def release(value):
        released.append(value)  # a file release runs first
        raise Py4JJavaError("unpersist", SimpleNamespace(_target_id="o1"))

    old = session.memo(_spark("app-1"), ("ns", 0), lambda: "old", release)
    assert session.memo(_spark("app-2"), ("ns", 0), lambda: "new") == "new"
    assert released == [old]


def test_clear_releases_everything():
    spark, released = _spark(), []
    values = {_memo(spark, (ns, i), released) for ns in "ab" for i in range(3)}
    session.clear()
    assert set(released) == values and len(released) == len(values)
    assert _memo(spark, ("a", 0), released) not in values


def test_build_raising_leaves_no_entry():
    spark = _spark()

    def boom():
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        session.memo(spark, ("ns", 0), boom)
    assert not session._MEMO
    assert session.memo(spark, ("ns", 0), lambda: "built") == "built"


def test_entry_without_release_is_dropped_silently():
    spark = _spark()
    session.memo(spark, ("ns", 0), lambda: "v")
    session.clear()
    assert not session._MEMO


def test_exit_hook_deletes_leftover_state_dirs(monkeypatch):
    monkeypatch.setattr(session, "_STATE_DIRS", set())
    path = session.state_dir("memo_test_")
    open(os.path.join(path, "f"), "w").close()
    session._remove_state_dirs()
    assert not os.path.exists(path)
