"""``session.session_memo``: the one session-scoped memo.

The unit tests run on fake sessions (no JVM) against a private memo
table, so they neither need nor disturb the shared Spark fixture's
entries.  The guard tests keep hand-rolled session caches from coming
back under ``go_whisper_spark/``.
"""

import os
import re
from types import SimpleNamespace

import pytest

import go_whisper_spark.session as session
from go_whisper_spark.session import session_memo

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "go_whisper_spark")


def _fake(app_id):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


@pytest.fixture
def memos(monkeypatch):
    table = {}
    monkeypatch.setattr(session, "_MEMOS", table)
    return table


def _never():
    raise AssertionError("build called on a hit")


def test_hit_returns_same_object_without_build(memos):
    s = _fake("app-1")
    first = session_memo(s, "k", ("sf", "t"), lambda: object())
    assert session_memo(s, "k", ("sf", "t"), _never) is first


def test_new_application_drops_every_kind(memos):
    old, new = _fake("app-1"), _fake("app-2")
    session_memo(old, "a", 1, lambda: "a1")
    session_memo(old, "b", 1, lambda: "b1")
    assert session_memo(new, "a", 1, lambda: "a2") == "a2"
    assert all(k[0] == "app-2" for memo in memos.values() for k in memo)
    assert memos["b"] == {}
    assert session_memo(new, "b", 1, lambda: "b2") == "b2"


def test_257th_key_evicts_only_the_oldest(memos):
    s = _fake("app-1")
    n = session._MEMO_MAX
    assert n == 256
    session_memo(s, "other", 0, lambda: "kept")
    for i in range(n + 1):
        session_memo(s, "k", i, lambda i=i: i)
    for i in range(1, n + 1):
        assert session_memo(s, "k", i, _never) == i
    assert session_memo(s, "other", 0, _never) == "kept"
    assert session_memo(s, "k", 0, lambda: "rebuilt") == "rebuilt"


def test_failed_build_stores_nothing(memos):
    s = _fake("app-1")

    def boom():
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        session_memo(s, "k", 1, boom)
    assert not memos.get("k")
    assert session_memo(s, "k", 1, lambda: "ok") == "ok"


def test_dot_expr_rebuilds_for_a_new_application(spark, memos, monkeypatch):
    """A Column memoized under one SparkContext must not be handed to
    the next: after a JVM relaunch in the same process it points at a
    dead py4j gateway (every cosine query then fails with
    ConnectionRefusedError)."""
    from pyspark.sql import SparkSession

    from go_whisper_spark.operators.llm_ops import _dot_expr

    first = _dot_expr("v", "v")
    assert _dot_expr("v", "v") is first
    monkeypatch.setattr(SparkSession, "active", classmethod(lambda cls: _fake("relaunched")))
    assert _dot_expr("v", "v") is not first


def _modules():
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(root, f)


def test_application_id_only_in_session_module():
    users = sorted(
        os.path.relpath(p, PKG) for p in _modules() if "applicationId" in open(p).read()
    )
    assert users == ["session.py"]


def test_no_module_level_cache_dicts():
    pat = re.compile(r"^_\w*CACHE\b[^=\n]*=\s*(\{|dict\()", re.M)
    offenders = [
        f"{os.path.relpath(p, PKG)}: {m.group(0)}"
        for p in _modules()
        for m in pat.finditer(open(p).read())
    ]
    assert offenders == []
