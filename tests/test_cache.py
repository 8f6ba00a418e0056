"""The one bounded single-flight cache (``engine/cache.py``), with fake
values and no Spark, plus a guard that no other module hand-rolls an LRU."""

from __future__ import annotations

import ast
import sys
import threading
from pathlib import Path

import pytest

from datafusion_flight_sql_server_spark.engine import cache as cache_mod
from datafusion_flight_sql_server_spark.engine.cache import BoundedCache

PACKAGE = Path(__file__).resolve().parents[1] / "datafusion_flight_sql_server_spark"


class _Blocked:
    """A build that signals when it starts and finishes when released."""

    def __init__(self, value=None, error: BaseException | None = None):
        self.value = value
        self.error = error
        self.started = threading.Event()
        self.release = threading.Event()

    def __call__(self):
        self.started.set()
        assert self.release.wait(30), "test orchestration stalled"
        if self.error is not None:
            raise self.error
        return self.value


def _in_thread(fn, *args):
    """Run ``fn(*args)`` on a thread; returns (thread, outcome dict)."""
    out: dict = {}

    def run():
        try:
            out["value"] = fn(*args)
        except BaseException as exc:  # noqa: BLE001 - reported to the test
            out["error"] = exc

    t = threading.Thread(target=run)
    t.start()
    return t, out


def _join(t: threading.Thread) -> None:
    t.join(30)
    assert not t.is_alive()


def test_maxsize_below_one_rejected():
    with pytest.raises(ValueError, match="maxsize"):
        BoundedCache(0)


def test_one_build_under_racing_threads():
    cache = BoundedCache(4)
    builds: list = []
    barrier = threading.Barrier(8)
    results: list = []

    def build():
        builds.append(1)
        return object()

    def go():
        barrier.wait()
        results.append(cache.get_or_build("k", build))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=go) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            _join(t)
    finally:
        sys.setswitchinterval(old)
    assert len(builds) == 1
    assert len(results) == 8 and len({id(r) for r in results}) == 1
    assert len(cache) == 1


def test_other_keys_proceed_while_one_builds():
    cache = BoundedCache(4)
    cache.put("b", "B")
    slow = _Blocked("A")
    t, out = _in_thread(cache.get_or_build, "a", slow)
    try:
        assert slow.started.wait(30)
        assert cache.get_or_build("b", lambda: "rebuilt") == "B"
        assert cache.get_or_build("c", lambda: "C") == "C"
    finally:
        slow.release.set()
        _join(t)
    assert out == {"value": "A"}


def test_lru_order_and_on_evict():
    evicted: list = []
    cache = BoundedCache(2, on_evict=evicted.append)
    cache.put("a", "A")
    cache.put("b", "B")
    assert cache.get("a") == "A"  # refreshes a: b is now least recent
    cache.put("c", "C")
    assert evicted == ["B"]
    assert cache.get("b") is None
    assert cache.get_or_build("d", lambda: "D") == "D"
    assert evicted == ["B", "A"]
    assert cache.get("a") is None


def test_finished_build_counts_as_most_recent():
    evicted: list = []
    cache = BoundedCache(2, on_evict=evicted.append)
    cache.put("a", "A")
    slow = _Blocked("B")
    t, _ = _in_thread(cache.get_or_build, "b", slow)
    try:
        assert slow.started.wait(30)
        assert cache.get("a") == "A"  # a is more recent than b's start
    finally:
        slow.release.set()
        _join(t)
    cache.put("c", "C")
    assert evicted == ["A"]
    assert cache.get("b") == "B"


def test_in_flight_entry_never_evicted():
    evicted: list = []
    cache = BoundedCache(1, on_evict=evicted.append)
    slow = _Blocked("S")
    t, out = _in_thread(cache.get_or_build, "slow", slow)
    try:
        assert slow.started.wait(30)
        cache.put("x", "X")
        cache.put("y", "Y")
        assert evicted == ["X"]  # not the in-flight "slow"
        assert cache.get("slow") is None  # still building
        assert len(cache) == 2
    finally:
        slow.release.set()
        _join(t)
    assert out == {"value": "S"}
    assert cache.get("slow") == "S"
    assert evicted == ["X", "Y"]


def test_failed_build_not_cached_and_error_reaches_waiters():
    cache = BoundedCache(4)
    failing = _Blocked(error=RuntimeError("boom"))
    t1, out1 = _in_thread(cache.get_or_build, "k", failing)
    assert failing.started.wait(30)
    t2, out2 = _in_thread(cache.get_or_build, "k", lambda: "never")
    failing.release.set()
    _join(t1)
    _join(t2)
    assert isinstance(out1.get("error"), RuntimeError)
    assert out2.get("error") is out1["error"]
    assert len(cache) == 0
    assert cache.get_or_build("k", lambda: "ok") == "ok"  # builds again
    assert cache.get("k") == "ok"


def test_bounded_wait_raises_naming_key(monkeypatch):
    monkeypatch.setattr(cache_mod, "WAIT_TIMEOUT_S", 0.05)
    cache = BoundedCache(4)
    hung = _Blocked("late")
    t, _ = _in_thread(cache.get_or_build, ("corpus", 7), hung)
    try:
        assert hung.started.wait(30)
        with pytest.raises(TimeoutError, match=r"\('corpus', 7\)"):
            cache.get_or_build(("corpus", 7), lambda: "never")
    finally:
        hung.release.set()
        _join(t)
    assert cache.get(("corpus", 7)) == "late"


def test_clear_evicts_every_built_entry():
    evicted: list = []
    cache = BoundedCache(4, on_evict=evicted.append)
    cache.put("a", "A")
    cache.get_or_build("b", lambda: "B")
    slow = _Blocked("C")
    t, out = _in_thread(cache.get_or_build, "c", slow)
    try:
        assert slow.started.wait(30)
        cache.clear()
        assert sorted(evicted) == ["A", "B"]
        assert cache.get("a") is None and cache.get("b") is None
    finally:
        slow.release.set()
        _join(t)
    assert out == {"value": "C"}  # the in-flight build finished and stays
    assert cache.get("c") == "C"


def test_discard_drops_only_the_held_value():
    evicted: list = []
    cache = BoundedCache(4, on_evict=evicted.append)
    cache.put("k", "old")
    cache.discard("k", "old")
    assert cache.get("k") is None and evicted == ["old"]
    cache.put("k", "new")
    cache.discard("k", "old")  # a stale caller cannot drop the fresh value
    assert cache.get("k") == "new" and evicted == ["old"]


def test_put_over_a_key_evicts_the_old_value():
    evicted: list = []
    cache = BoundedCache(4, on_evict=evicted.append)
    cache.put("k", "one")
    cache.put("k", "two")
    assert evicted == ["one"] and cache.get("k") == "two" and len(cache) == 1


def test_on_evict_errors_are_swallowed():
    def stopped(_value):
        raise RuntimeError("session already stopped")

    cache = BoundedCache(1, on_evict=stopped)
    cache.put("a", "A")
    cache.put("b", "B")
    cache.clear()
    assert len(cache) == 0


def _hand_rolled_lru_sites(path: Path) -> list[str]:
    name = path.relative_to(PACKAGE.parent)
    sites = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.ImportFrom) and node.module == "collections":
            if any(a.name == "OrderedDict" for a in node.names):
                sites.append(f"{name}:{node.lineno} imports OrderedDict")
        elif isinstance(node, ast.Attribute) and node.attr == "OrderedDict":
            sites.append(f"{name}:{node.lineno} uses collections.OrderedDict")
        elif (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "popitem"
            and any(
                k.arg == "last"
                and isinstance(k.value, ast.Constant)
                and k.value.value is False
                for k in node.keywords
            )
        ):
            sites.append(f"{name}:{node.lineno} calls popitem(last=False)")
    return sites


def test_cache_module_is_the_only_bounded_cache():
    cache_py = PACKAGE / "engine" / "cache.py"
    assert _hand_rolled_lru_sites(cache_py)  # the guard sees the real one
    sites = [
        site
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != cache_py
        for site in _hand_rolled_lru_sites(path)
    ]
    assert not sites, (
        "use engine/cache.py::BoundedCache instead of a hand-rolled LRU: "
        + "; ".join(sites)
    )


def test_no_module_calls_the_catalog_list_api():
    # PySpark's Catalog.list* iterate a JVM Dataset, one Spark job per
    # partition; the catalog listing in engine/core.py uses SHOW commands
    banned = {"listTables", "listDatabases", "listCatalogs"}
    sites = [
        f"{path.relative_to(PACKAGE.parent)}:{node.lineno} calls .{node.func.attr}("
        for path in sorted(PACKAGE.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in banned
    ]
    assert not sites, "list the catalog with engine/core.py Engine._tables: " + (
        "; ".join(sites)
    )
