"""One benchmark run inside the engine's process (started by ``run.py``).

Closed loop, one client: a single driver thread runs the workload's steps in
a fixed order. A step builds one query (``Query.fn``), executes it into the
``noop`` sink, then calls ``release_query_caches`` outside the step's timed
span. One warm-up pass collects every result for the correctness check;
``WARM_PASSES`` untimed passes let the JIT settle; the timed passes follow
until ``--seconds`` have elapsed and the workload's ``PASSES`` have run. Each
timed pass reports its monotonic start and end, so that ``run.py`` can read
its wall time against the host speed measured over the same interval.

With ``--trace 1`` untraced and traced passes alternate. A traced pass tags
each call with a job group and reads Spark's status stores after it; the
span tree is run → pass → step → {build, execute, release} → Spark job.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

from oracle import check_rows, read_text_output, refjob_expected
from spans import StatusReader, Trace, covered, layer_counters
from workloads import MODULES, PASSES, QUERIES, WARM_PASSES, module_of


class Step:
    def __init__(self, name: str, build, execute, module: str | None = None):
        self.name, self.build, self.execute, self.module = name, build, execute, module


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def make_steps(spark, workload: str, spec: dict) -> list[Step]:
    if workload == "refjob":
        from hadoop_web_browsing_logs_spark.refcli import run_reference_jobs

        ref = spec["refjob"]

        def call(_):
            run_reference_jobs(spark, ref["docs_dir"], ref["out_dir"], ref["stopwords"], ref["centers"])

        return [Step("refjob", None, call)]
    from hadoop_web_browsing_logs_spark.plans.registry import get_query

    steps = []
    for name in QUERIES[workload]:
        q = get_query(name)
        steps.append(Step(name, lambda fn=q.fn: fn(spark, spec["tables_dir"]), _noop, module_of(q.fn)))
    return steps


class Runner:
    def __init__(self, spark, workload: str, spec: dict):
        from hadoop_web_browsing_logs_spark.session import release_query_caches

        self.spec = spec
        self.release = lambda: release_query_caches(spark)
        self.steps = make_steps(spark, workload, spec)
        self.attempted = 0
        self.failures: list[str] = []

    def fail(self, step: Step, why: str) -> None:
        self.failures.append(f"{step.name}: {why}")

    def warmup(self) -> list[tuple]:
        """Run every step once, collecting query results for the check."""
        results = []
        for step in self.steps:
            self.attempted += 1
            try:
                if step.build is None:
                    step.execute(None)
                    results.append((step, None, None))
                else:
                    df = step.build()
                    results.append((step, df.columns, [tuple(r) for r in df.collect()]))
            except Exception:  # noqa: BLE001 — a failing step is counted, the run goes on
                self.fail(step, traceback.format_exc(limit=3))
            self.release()
        return results

    def check(self, results: list[tuple]) -> None:
        for step, cols, rows in results:
            if step.build is None:
                self.check_refjob(step)
            else:
                why = check_rows(self.spec["oracle"][step.name], cols, rows)
                if why:
                    self.fail(step, why)

    def check_refjob(self, step: Step) -> None:
        ref = self.spec["refjob"]
        want_index, want_kmeans = refjob_expected(ref["docs_dir"], ref["stopwords"], ref["centers"])
        if read_text_output(os.path.join(ref["out_dir"], "inverted_index")) != want_index:
            self.fail(step, "inverted_index differs from the pure-Python build")
        if read_text_output(os.path.join(ref["out_dir"], "kmeans")) != want_kmeans:
            self.fail(step, "kmeans differs from the pure-Python build")

    def timed_pass(self) -> dict:
        """One pass: its monotonic start and end, wall time and each
        successful step's latency."""
        latencies = {}
        t_start = time.monotonic()
        start = time.perf_counter()
        for step in self.steps:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                step.execute(step.build() if step.build else None)
                latencies[step.name] = time.perf_counter() - t0
            except Exception:  # noqa: BLE001
                self.fail(step, traceback.format_exc(limit=3))
            self.release()
        wall = time.perf_counter() - start
        return {"t0": t_start, "t1": time.monotonic(), "wall": wall, "steps": latencies}

    def traced_pass(self, reader: StatusReader, trace: Trace, run_span: int, number: int):
        """One pass with every call tagged and its Spark work read back;
        returns the pass wall time, the pass's per-layer sums and each
        step's build/execute split."""
        sums: dict[str, float] = {}
        split: dict[str, dict] = {}

        def add(key: str, value: float) -> None:
            sums[key] = sums.get(key, 0.0) + value

        def call(fn, group: str):
            reader.tag(group)
            t0 = time.time()
            try:
                out = fn()
            finally:
                t1 = time.time()
            return out, t0, t1

        reader.skip_past()
        pass_t0 = time.time()
        start = time.perf_counter()
        steps = []
        for i, step in enumerate(self.steps):
            self.attempted += 1
            group = f"perfbench.p{number}.s{i}"
            try:
                if step.build is not None:
                    df, b0, b1 = call(step.build, group + ".build")
                    build = reader.collect(group + ".build")
                else:
                    df, b0, b1, build = None, None, None, None
                _, e0, e1 = call(lambda: step.execute(df), group + ".execute")
                execute = reader.collect(group + ".execute")
            except Exception:  # noqa: BLE001
                self.fail(step, traceback.format_exc(limit=3))
                reader.tag(group + ".release")
                self.release()
                continue
            _, r0, r1 = call(self.release, group + ".release")
            n_rdds, storage_mb = reader.storage()
            steps.append((step, b0, b1, build, e0, e1, execute, r0, r1))
            split[step.name] = {
                "build_s": b1 - b0 if build else 0.0,
                "build_jobs": len(build.jobs) if build else 0,
                "exec_s": e1 - e0,
                "exec_jobs": len(execute.jobs),
            }
            add("session.release_s", r1 - r0)
            sums["session.persisted_rdds"] = max(sums.get("session.persisted_rdds", 0.0), n_rdds)
            sums["session.storage_mb"] = max(sums.get("session.storage_mb", 0.0), storage_mb)
            if build is not None:
                c = layer_counters(build)
                add("plans.build_s", b1 - b0)
                add("plans.build_self_s", (b1 - b0) - covered(build.job_intervals(), b0, b1))
                add("plans.build_jobs", c["jobs"])
                add("plans.build_stages", c["stages"])
                add("plans.build_tasks", c["tasks"])
                add(f"operators.{step.module}.build_s", b1 - b0)
            c = layer_counters(execute)
            add("operators.exec_s", e1 - e0)
            if step.module:
                add(f"operators.{step.module}.exec_s", e1 - e0)
            for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "shuffle_read_mb",
                      "shuffle_write_mb", "spill_mb", "gc_s"):
                add(f"operators.{k}", c[k])
            for stats in (build, execute):
                if stats is None:
                    continue
                c = layer_counters(stats)
                for k in ("python_run_s", "python_start_s", "python_mb"):
                    add(f"functions.{k}", c[k])
                for k in ("scan_s", "files_read", "input_mb", "input_rows", "written_mb", "files_written"):
                    add(f"sources.{k}", c[k])
            if step.build is None:
                add("refcli.run_s", e1 - e0)
                add("refcli.jobs", len(execute.jobs))
                for key, span in refcli_spans(execute).items():
                    add(f"refcli.{key}", span)
        wall = time.perf_counter() - start
        pass_span = trace.add("pass", pass_t0, time.time(), run_span, number=number)
        for step, b0, b1, build, e0, e1, execute, r0, r1 in steps:
            s0 = b0 if b0 is not None else e0
            step_span = trace.add("step", s0, r1, pass_span, query=step.name)
            for name, t0, t1, stats in (("build", b0, b1, build), ("execute", e0, e1, execute), ("release", r0, r1, None)):
                if t0 is None:
                    continue
                span = trace.add(name, t0, t1, step_span)
                for job in stats.jobs if stats else ():
                    if job.get("submissionTime") and job.get("completionTime"):
                        trace.add("job", job["submissionTime"] / 1e3, job["completionTime"] / 1e3, span,
                                  job_id=job["jobId"], stages=len(job.get("stageIds", [])))
        core_s = sums.get("operators.exec_s", 0.0) * self.spec["cores"]
        sums["operators.core_util"] = sums.get("operators.executor_run_s", 0.0) / core_s if core_s else 0.0
        return wall, sums, split


def refcli_spans(stats) -> dict[str, float]:
    """The refjob call's root SQL executions by job: the corpus count, the
    inverted-index write and the k-means write (told apart by output path)."""
    out = {"count_s": 0.0, "index_write_s": 0.0, "kmeans_write_s": 0.0}
    for ex in stats.executions:
        if ex["root"] != ex["id"] or ex["end"] is None:
            continue
        text = " ".join(n["desc"] for n in ex["nodes"])
        key = "index_write_s" if "/inverted_index" in text else "kmeans_write_s" if "/kmeans" in text else "count_s"
        out[key] += ex["end"] - ex["start"]
    return out


def per_layer_names() -> list[str]:
    names = ["session.start_s", "session.release_s", "session.persisted_rdds", "session.storage_mb",
             "plans.build_s", "plans.build_self_s", "plans.build_jobs", "plans.build_stages", "plans.build_tasks",
             "operators.exec_s"]
    names += [f"operators.{k}" for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                                         "core_util", "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "gc_s")]
    for m in MODULES:
        names += [f"operators.{m}.build_s", f"operators.{m}.exec_s"]
    names += ["functions.python_run_s", "functions.python_start_s", "functions.python_mb"]
    names += [f"sources.{k}" for k in ("scan_s", "files_read", "input_mb", "input_rows", "corpus_scans",
                                       "written_mb", "files_written")]
    names += ["refcli.run_s", "refcli.jobs", "refcli.count_s", "refcli.index_write_s", "refcli.kmeans_write_s"]
    names += ["trace.overhead_s"]
    return names


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--spec", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(args.spec) as fh:
        spec = json.load(fh)
    t_spawn = spec["t_spawn"]

    from hadoop_web_browsing_logs_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    start_s = time.perf_counter() - t0
    runner = Runner(spark, spec["workload"], spec)
    t0 = time.perf_counter()
    results = runner.warmup()
    warmup_s = time.perf_counter() - t0
    t_setup = time.monotonic()
    runner.check(results)
    del results
    # passes keep speeding up for a while as the JIT compiles; these run
    # before the window opens and are not timed
    for _ in range(WARM_PASSES[spec["workload"]]):
        runner.timed_pass()

    seconds, traced = spec["seconds"], spec["trace"]
    passes: list[dict] = []
    traced_passes: list[tuple[float, dict, dict]] = []
    reader = StatusReader(spark) if traced else None
    trace = Trace()
    run_span = trace.add("run", time.time(), 0.0, None, workload=spec["workload"])
    window = time.perf_counter()
    number = 0
    while True:
        if traced and number % 2 == 1:
            traced_passes.append(runner.traced_pass(reader, trace, run_span, number))
        else:
            t0 = time.time()
            passes.append(runner.timed_pass())
            if traced:
                trace.add("pass", t0, time.time(), run_span, number=number, traced=False)
        number += 1
        elapsed = time.perf_counter() - window
        # a traced run ends on an untraced pass, so every traced pass has an
        # untraced pass on each side to be compared with
        if elapsed >= seconds and number >= PASSES[spec["workload"]] and (not traced or number % 2 == 1):
            break
    trace.spans[run_span].end = time.time()
    if spec["workload"] == "refjob":
        runner.check_refjob(runner.steps[0])

    out = {
        "setup_s": t_setup - t_spawn,
        "t_setup": t_setup,
        "start_s": start_s,
        "warmup_s": warmup_s,
        "passes": passes,
        "attempted": runner.attempted,
        "failures": runner.failures,
        "driver_memory": spark.conf.get("spark.driver.memory", "(unset)"),
        "java_version": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "pyspark_version": spark.version,
    }
    if traced:
        layers = {}
        for name in per_layer_names():
            layers[name] = statistics.median(sums.get(name, 0.0) for _, sums, _ in traced_passes)
        layers["session.start_s"] = start_s
        corpus = spec.get("refjob", {}).get("n_docs")
        if corpus:
            layers["sources.corpus_scans"] = layers["sources.files_read"] / corpus
        # traced pass k ran between untraced passes k and k + 1; comparing
        # with their mean cancels the JIT warm-up that speeds later passes
        layers["trace.overhead_s"] = statistics.median(
            w - (passes[k]["wall"] + passes[k + 1]["wall"]) / 2 for k, (w, _, _) in enumerate(traced_passes)
        )
        out["layers"] = layers
        out["traced_passes"] = [w for w, _, _ in traced_passes]
        out["steps"] = {
            name: {k: statistics.median(p[2][name][k] for p in traced_passes if name in p[2]) for k in split}
            for name, split in traced_passes[-1][2].items()
        }
        trace.dump(spec["trace_path"])
    with open(args.out, "w") as fh:
        json.dump(out, fh)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
