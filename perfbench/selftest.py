"""Self-tests of the benchmark's own generators, checks and tracer.

    python3 perfbench/selftest.py

Exits 0 when every test passes. Each correctness check is fed a
deliberately wrong answer and must catch it.
"""

from __future__ import annotations

import copy
import os
import sys
import traceback

import run

TESTS = []


def test(fn):
    TESTS.append(fn)
    return fn


SMALL = None  # ReseedSizes for the Spark-side tests, set in main()


@test
def retail_spec_is_a_function_of_the_seed():
    import gen

    assert gen.retail_spec(7) == gen.retail_spec(7)
    specs = {repr(gen.retail_spec(s)) for s in range(8)}
    assert len(specs) > 1, "every seed gives the same geometry"
    for s in range(8):
        spec = gen.retail_spec(s)
        assert 4 <= spec.pages["shoprite.test"] <= 6 and 2 <= spec.pages["pnp.test"] <= 4
        assert len(spec.categories) == 18 and spec.error_every == 13


@test
def reseed_inputs_same_seed_identical(spark):
    import gen

    a = sorted(gen.raw_batch(spark, 3, SMALL).collect())
    b = sorted(gen.raw_batch(spark, 3, SMALL).repartition(7).collect())
    assert a == b, "same seed, different inputs (partition-dependent generator?)"
    assert sorted(gen.seen_urls(spark, 3, SMALL).collect()) == sorted(gen.seen_urls(spark, 3, SMALL).collect())


@test
def reseed_inputs_other_seed_differ(spark):
    import gen

    a = {r.url for r in gen.raw_batch(spark, 3, SMALL).collect()}
    b = {r.url for r in gen.raw_batch(spark, 4, SMALL).collect()}
    assert a != b
    assert {r.url_canon for r in gen.seen_urls(spark, 3, SMALL).collect()} != {
        r.url_canon for r in gen.seen_urls(spark, 4, SMALL).collect()
    }


@test
def reseed_planted_counts_exact(spark):
    import gen

    from retailer_scrapers_spark.functions.urls import canonicalize_py

    for seed in (1, 2, 3):
        raw = gen.raw_batch(spark, seed, SMALL).collect()
        seen = {r.url_canon for r in gen.seen_urls(spark, seed, SMALL).collect()}
        front = {r.url_canon for r in gen.frontier_rows(spark, seed, SMALL).collect()}
        novel_rows = [r for r in raw if r.novel]
        assert len(raw) == SMALL.n_raw
        assert len(novel_rows) == SMALL.n_novel_rows
        assert len({r.expect_canon for r in novel_rows}) == SMALL.n_novel
        assert all(r.expect_canon in seen for r in raw if not r.novel)
        assert not any(r.expect_canon in seen for r in novel_rows)
        assert not front & (seen | {r.expect_canon for r in raw})
        # the messy spelling canonicalizes to the generator's own key
        assert all(canonicalize_py(r.url) == r.expect_canon for r in raw)
        assert any(r.url != r.expect_canon for r in raw)


def _golden():
    import gen
    from retailer_scrapers_spark.sources import synthetic_site as G
    from tests.reference_impl.executor import RefConfig, run_reference

    spec = gen.retail_spec(1)
    return run_reference(
        G.build_site_pages(spec).to_dict("records"), G.build_robots().to_dict("records"),
        G.build_seeds(spec).to_dict("records"), RefConfig(epochs=1, per_host_budget=gen.RETAIL_PER_HOST_BUDGET),
    )


@test
def trace_check_catches_wrong_trace():
    import checks

    golden = _golden()
    assert golden.trace
    assert checks.check_trace(copy.deepcopy(golden.trace), golden.trace) == []
    wrong = copy.deepcopy(golden.trace)
    wrong[0]["scheduled_offset_ms"] += 1
    assert checks.check_trace(wrong, golden.trace)
    assert checks.check_trace(golden.trace[1:], golden.trace)
    swapped = copy.deepcopy(golden.trace)
    swapped[0]["url_canon"], swapped[1]["url_canon"] = swapped[1]["url_canon"], swapped[0]["url_canon"]
    assert checks.check_trace(swapped, golden.trace)


@test
def seen_check_catches_wrong_answers():
    import checks

    golden = _golden()
    assert checks.check_seen(set(golden.seen), golden.seen) == []
    assert checks.check_seen(set(list(golden.seen)[1:]), golden.seen)
    assert checks.check_seen(golden.seen | {"https://x.test/"}, golden.seen)


@test
def novel_set_and_sequence_checks_catch_wrong_answers(spark):
    import checks

    urls = [f"https://h.test/item/{i}" for i in range(50)]
    exp = spark.createDataFrame([(u,) for u in urls], "url_canon string")
    got = spark.createDataFrame([(u, 100 + i + 1) for i, u in enumerate(sorted(urls))], "url_canon string, seq long")
    assert checks.check_novel_set(got, exp) == []
    assert checks.check_sequence(got, 100) == []
    assert checks.check_novel_set(got.limit(49), exp)
    assert checks.check_novel_set(got.unionByName(got.limit(1)), exp)
    extra = spark.createDataFrame([("https://h.test/other", 0)], "url_canon string, seq long")
    assert checks.check_novel_set(got.unionByName(extra), exp)
    assert checks.check_sequence(got, 99)
    assert checks.fingerprint(got) == checks.fingerprint(exp)
    assert checks.fingerprint(got.limit(49)) != checks.fingerprint(exp)


@test
def tracer_self_time_and_busy_time():
    from spans import Tracer, job_busy_s

    t = Tracer.__new__(Tracer)
    t.spans = [
        {"id": 0, "parent": None, "name": "a", "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "name": "b", "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "name": "b", "start": 5.0, "end": 6.0},
    ]
    st = t.self_times()
    assert abs(st["a"] - 6.0) < 1e-9 and abs(st["b"] - 4.0) < 1e-9
    jobs = [{"submit": 1.0, "end": 3.0}, {"submit": 2.0, "end": 5.0}, {"submit": 7.0, "end": 20.0}]
    assert abs(job_busy_s(jobs, 0.0, 10.0) - 7.0) < 1e-9


def main() -> int:
    global SMALL
    work = os.path.join(run.WORK_ROOT, f"selftest-{os.getpid()}")
    run.prepare_env(work)
    import gen
    from retailer_scrapers_spark import get_spark

    SMALL = gen.ReseedSizes(n_seen=1024, n_raw=1024, n_frontier=256, n_hosts=16)
    spark = get_spark("perfbench-selftest", cores=2, extra_conf=run.session_conf(work), codegen=False, aqe=False)
    failed = 0
    try:
        for fn in TESTS:
            try:
                fn(spark) if fn.__code__.co_argcount else fn()
                print(f"ok   {fn.__name__}")
            except Exception:
                failed += 1
                print(f"FAIL {fn.__name__}")
                traceback.print_exc()
    finally:
        run.stop_spark(spark)
        import shutil

        shutil.rmtree(work, ignore_errors=True)
    print(f"{len(TESTS) - failed}/{len(TESTS)} passed")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
