"""Unit pins for the scratch module's index handles: identifier-safe
table tags and (family, applicationId, sf_dir) cache keying with an
explicit invalidation hook."""

from __future__ import annotations

from stockmarket_bigdata_project_spark import scratch


class _FakeCtx:
    def __init__(self, app_id: str):
        self.applicationId = app_id


class _FakeSpark:
    def __init__(self, app_id: str):
        self.sparkContext = _FakeCtx(app_id)


def test_table_tag_sanitizes_every_non_word_character():
    # the r9 ADVICE repro: a hyphenated sf_dir must not leak '-' into an
    # unquoted identifier (DROP TABLE bench_grams_data_sf-0_1 is a parse
    # error)
    assert scratch.table_tag("/data/sf-0.1") == "data_sf_0_1"
    assert scratch.table_tag("/root/testdata/sf0.001") == (
        "root_testdata_sf0_001"
    )
    assert scratch.table_tag("/a b/c+d/") == "a_b_c_d"


def test_get_or_build_memoizes_per_application_id():
    calls: list[str] = []

    def build_for(tag: str):
        def build() -> str:
            calls.append(tag)
            return f"table_{tag}"

        return build

    scratch.clear_prepared_indexes()
    try:
        a, b = _FakeSpark("app-A"), _FakeSpark("app-B")
        # same (family, app, sf): one build
        assert scratch.get_or_build(a, "fam", "/sf", build_for("a1")) == (
            "table_a1"
        )
        assert scratch.get_or_build(a, "fam", "/sf", build_for("a2")) == (
            "table_a1"
        )
        # a SECOND SparkSession (fresh in-memory catalog) must REBUILD —
        # the r9 ADVICE failure was an sf_dir-only key telling session B
        # the table exists when B's catalog has never seen it
        assert scratch.get_or_build(b, "fam", "/sf", build_for("b1")) == (
            "table_b1"
        )
        # distinct family / sf_dir: independent entries
        assert scratch.get_or_build(a, "fam2", "/sf", build_for("f2")) == (
            "table_f2"
        )
        assert scratch.get_or_build(a, "fam", "/sf2", build_for("s2")) == (
            "table_s2"
        )
        assert calls == ["a1", "b1", "f2", "s2"]
        # explicit invalidation: the next call rebuilds
        scratch.clear_prepared_indexes()
        assert scratch.get_or_build(a, "fam", "/sf", build_for("a3")) == (
            "table_a3"
        )
        assert calls[-1] == "a3"
    finally:
        scratch.clear_prepared_indexes()


def test_nested_build_for_different_key_does_not_deadlock():
    """r10 ADVICE: the lock is per key, not one global lock across the
    whole build() — a build that calls get_or_build for ANOTHER key
    (sampling's shard layout builds on the dedup index) must complete
    instead of deadlocking, and unrelated keys must build concurrently."""
    import threading

    scratch.clear_prepared_indexes()
    spark = _FakeSpark("app-N")
    try:

        def inner() -> str:
            return "inner_table"

        def outer() -> str:
            # nested get_or_build for a DIFFERENT key from inside a build
            return scratch.get_or_build(spark, "inner_fam", "/sf", inner)

        done: list[str] = []

        def run() -> None:
            done.append(scratch.get_or_build(spark, "outer_fam", "/sf", outer))

        t = threading.Thread(target=run, daemon=True)
        t.start()
        t.join(timeout=10)
        assert not t.is_alive(), "nested get_or_build deadlocked"
        assert done == ["inner_table"]

        # two different keys build concurrently: each build blocks on a
        # barrier that only releases when BOTH builds are in flight — under
        # one global build-spanning lock this times out
        barrier = threading.Barrier(2, timeout=10)

        def blocking_build(tag: str):
            def build() -> str:
                barrier.wait()
                return tag

            return build

        results: dict[str, str] = {}
        ts = [
            threading.Thread(
                target=lambda f=fam: results.__setitem__(
                    f,
                    scratch.get_or_build(spark, f, "/sfc", blocking_build(f)),
                ),
                daemon=True,
            )
            for fam in ("fam_x", "fam_y")
        ]
        for th in ts:
            th.start()
        for th in ts:
            th.join(timeout=15)
        assert results == {"fam_x": "fam_x", "fam_y": "fam_y"}
    finally:
        scratch.clear_prepared_indexes()


def test_clear_racing_reads_never_raises(monkeypatch):
    """r11 ADVICE: the old fast path re-acquired _LOCK to read
    _PREPARED[key] AFTER the membership check — a clear_prepared_indexes()
    interleaving between the two critical sections dropped the key and the
    read raised KeyError. Stress the exact interleaving: one thread spams
    clear while another calls get_or_build in a tight loop; every call
    must return a valid handle (memoized or freshly built), never raise."""
    import threading

    scratch.clear_prepared_indexes()
    spark = _FakeSpark("app-race")
    stop = threading.Event()
    errors: list[BaseException] = []

    def spam_clear() -> None:
        while not stop.is_set():
            scratch.clear_prepared_indexes()

    t = threading.Thread(target=spam_clear, daemon=True)
    t.start()
    try:
        for _ in range(3000):
            got = scratch.get_or_build(spark, "fam", "/sf", lambda: "t")
            assert got == "t"
    except BaseException as e:  # pragma: no cover - the regression signal
        errors.append(e)
    finally:
        stop.set()
        t.join(timeout=10)
        scratch.clear_prepared_indexes()
    assert not errors, errors


def test_clear_scope_documented_completed_builds_only():
    """The r12 docstring contract: a clear landing while a build is in
    flight does NOT force a cold rebuild — the in-flight build's handle is
    written after the clear and resurrects warm. Pin that behavior so the
    docstring stays honest (callers needing guaranteed-cold must quiesce
    builders first, as tools_scale_study does)."""
    import threading

    scratch.clear_prepared_indexes()
    spark = _FakeSpark("app-scope")
    in_build = threading.Event()
    release = threading.Event()
    calls: list[str] = []

    def slow_build() -> str:
        calls.append("built")
        in_build.set()
        assert release.wait(timeout=10)
        return "handle-1"

    got: list[str] = []

    def run() -> None:
        got.append(scratch.get_or_build(spark, "fam", "/sf", slow_build))

    t = threading.Thread(target=run, daemon=True)
    t.start()
    assert in_build.wait(timeout=10)
    scratch.clear_prepared_indexes()  # lands mid-build
    release.set()
    t.join(timeout=10)
    assert got == ["handle-1"]
    # the mid-build clear did not evict the in-flight handle: next call is warm
    assert (
        scratch.get_or_build(spark, "fam", "/sf", lambda: "handle-2")
        == "handle-1"
    )
    assert calls == ["built"]
    scratch.clear_prepared_indexes()
