"""The build-once memo registry (``oanda_stream_processor_spark.memo``):
hit/miss accounting, the never-memoize ``None`` key, nested bypass,
unknown names, ``purge_all`` over every registered entry, and a scan
that keeps every memo in the registry (a module-level ``_*CACHE*`` /
``_*MEMO*`` dict elsewhere in the package would escape ``purge_all``
and ``bypass``)."""

from __future__ import annotations

import ast
import os
import re
import time

import pytest

import __spark_entry__  # noqa: F401  (registers the query entries)
from oanda_stream_processor_spark import memo
from oanda_stream_processor_spark.streaming import incremental  # noqa: F401

PKG = os.path.dirname(os.path.abspath(memo.__file__))


def test_get_or_build_hits_and_misses():
    e = memo.register("test_counts")
    e.clear()
    calls = []

    def build():
        calls.append(1)
        time.sleep(0.02)
        return len(calls)

    h0, m0, s0 = e.hits, e.misses, e.build_s
    assert e.get_or_build("k", build) == 1
    s1 = e.build_s
    assert s1 - s0 >= 0.02          # a miss times its build
    assert e.get_or_build("k", build) == 1
    assert e.build_s == s1          # a hit adds no build time
    assert e.get_or_build("j", build) == 2
    assert e.build_s - s1 >= 0.02
    assert (e.hits - h0, e.misses - m0) == (1, 2)
    assert e.keys() == {"k", "j"}
    c = memo.counts()
    assert (c["test_counts.hits"], c["test_counts.misses"],
            c["test_counts.build_s"]) == (e.hits, e.misses, e.build_s)


def test_falsy_values_are_hits():
    e = memo.register("test_falsy")
    e.clear()
    assert e.get_or_build("k", lambda: False) is False
    assert e.get_or_build("k", lambda: True) is False


def test_none_key_never_memoizes():
    e = memo.register("test_none")
    e.clear()
    assert e.get_or_build(None, lambda: 1) == 1
    assert e.get_or_build(None, lambda: 2) == 2
    assert e.keys() == set()


def test_nested_bypass_restores_state():
    a, b = memo.register("test_a"), memo.register("test_b")
    a.clear()
    with memo.bypass("test_a"):
        assert not a.enabled and b.enabled
        assert a.get_or_build("k", lambda: 1) == 1
        assert a.keys() == set()          # no write under bypass
        with memo.bypass("test_a", "test_b"):
            assert not a.enabled and not b.enabled
        assert not a.enabled and b.enabled
    assert a.enabled and b.enabled
    a.get_or_build("k", lambda: 1)
    with memo.bypass("test_a"):             # no read under bypass
        assert a.get_or_build("k", lambda: 2) == 2
    assert a.get_or_build("k", lambda: 3) == 1


def test_bypass_restores_state_on_error():
    a = memo.register("test_err")
    with pytest.raises(RuntimeError):
        with memo.bypass("test_err"):
            raise RuntimeError
    assert a.enabled


def test_unknown_name_raises():
    with pytest.raises(KeyError):
        with memo.bypass("retrieval", "no_such_memo"):
            pass
    assert memo.register("retrieval").enabled


def test_purge_all_empties_every_entry():
    names = {k.rsplit(".", 1)[0] for k in memo.counts()}
    assert {"tables", "components", "corpus_rows", "star_edges",
            "winnow_components", "component_index",
            "retrieval"} <= names
    for n in names:
        memo.register(n).get_or_build(("purge", n), lambda: 1)
    memo.purge_all()
    assert all(memo.register(n).keys() == set() for n in names)


_MEMO_NAME = re.compile(r"^_\w*(CACHE|MEMO)\w*$")


def _is_dict(value) -> bool:
    return (isinstance(value, (ast.Dict, ast.DictComp))
            or (isinstance(value, ast.Call)
                and isinstance(value.func, ast.Name)
                and value.func.id in ("dict", "defaultdict",
                                      "OrderedDict")))


def test_no_module_level_memo_dicts_outside_registry():
    offenders = []
    for root, _, files in os.walk(PKG):
        for f in files:
            path = os.path.join(root, f)
            if not f.endswith(".py") or path == memo.__file__:
                continue
            tree = ast.parse(open(path).read(), path)
            for node in tree.body:
                if isinstance(node, ast.Assign):
                    targets, value = node.targets, node.value
                elif isinstance(node, ast.AnnAssign):
                    targets, value = [node.target], node.value
                else:
                    continue
                ann = getattr(node, "annotation", None)
                is_dict = _is_dict(value) or (
                    ann is not None and "dict" in ast.unparse(ann).lower())
                for t in targets:
                    if (isinstance(t, ast.Name) and _MEMO_NAME.match(t.id)
                            and is_dict):
                        offenders.append(
                            f"{os.path.relpath(path, PKG)}:{t.id}")
    assert not offenders, ("module-level memo dicts outside memo.py "
                           f"(register them with memo.register): "
                           f"{offenders}")
