"""Traced run: per-layer numbers, measured from outside the program.

The benchmark cuts the workload's composition at each module's public
call (workloads.py), tags the call's jobs with ``sc.setJobGroup``,
materializes its output with persist + count and times it.  Around that
it turns on Spark's event log through ``build_session(extra=...)`` and,
for the traced pass only, the ``perf`` Python UDF profiler; it parses
the event log in pure Python into per-job-group stage rows and rolls the
profiler's pstats up into the kernel modules' metrics.  Nothing inside ``jerex_spark/`` is
instrumented.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import time
from contextlib import contextmanager

from workloads import SUITE_QUERIES


class CutTracer:
    """Materializes and times each cut; records walls per job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.walls: dict[str, float] = {}
        self.cached: dict[str, object] = {}

    def tag(self, name):
        self.sc.setJobGroup(name, name)

    def cut(self, name, df):
        self.tag(name)
        t0 = time.perf_counter()
        df = df.persist()
        df.count()
        self.walls[name] = self.walls.get(name, 0.0) + (
            time.perf_counter() - t0)
        self.cached[name] = df
        return df

    @contextmanager
    def span(self, name):
        self.tag(name)
        t0 = time.perf_counter()
        yield
        self.walls[name] = self.walls.get(name, 0.0) + (
            time.perf_counter() - t0)

    def release(self):
        for df in self.cached.values():
            df.unpersist()
        self.cached.clear()


# --- event log ----------------------------------------------------------

def eventlog_conf(log_dir: str) -> dict:
    """Uncompressed JSON event log, so a pure-Python parser reads it."""
    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir)
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
            "spark.eventLog.compress": "false"}


PROFILER = "spark.sql.pyspark.udf.profiler"


def _acc(task_info: dict, name: str) -> int:
    for a in task_info.get("Accumulables", []):
        if a.get("Name") == name:
            return int(a.get("Update") or 0)
    return 0


def parse_eventlog(log_dir: str) -> dict:
    """Event log -> {"jobs": [...], "stages": {id: row}} where each job
    row has group, start, end, stage ids and each stage row sums its
    tasks' metrics and keeps their run times."""
    jobs, stages, stage_group = [], {}, {}
    job_by_id = {}
    files = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"),
                             recursive=True)
                   + glob.glob(os.path.join(log_dir, "local-*")))
    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    grp = (e.get("Properties") or {}).get(
                        "spark.jobGroup.id", "")
                    j = {"id": e["Job ID"], "group": grp,
                         "start": e["Submission Time"] / 1e3, "end": None,
                         "stages": e["Stage IDs"]}
                    jobs.append(j)
                    job_by_id[j["id"]] = j
                    for s in e["Stage IDs"]:
                        stage_group.setdefault(s, grp)
                elif kind == "SparkListenerJobEnd":
                    job_by_id[e["Job ID"]]["end"] = (
                        e["Completion Time"] / 1e3)
                elif kind == "SparkListenerTaskEnd":
                    sid = e["Stage ID"]
                    ti, tm = e["Task Info"], e.get("Task Metrics") or {}
                    st = stages.setdefault(sid, {
                        "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                        "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
                        "py_in": 0, "py_out": 0, "task_run_s": []})
                    run = tm.get("Executor Run Time", 0) / 1e3
                    sr = tm.get("Shuffle Read Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    st["tasks"] += 1
                    st["run_s"] += run
                    st["task_run_s"].append(run)
                    st["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    st["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    st["shuffle_read"] += (sr.get("Local Bytes Read", 0)
                                           + sr.get("Remote Bytes Read", 0))
                    st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    st["spill"] += (tm.get("Memory Bytes Spilled", 0)
                                    + tm.get("Disk Bytes Spilled", 0))
                    st["py_in"] += _acc(ti, "data sent to Python workers")
                    st["py_out"] += _acc(ti,
                                         "data returned from Python workers")
    for sid, st in stages.items():
        st["group"] = stage_group.get(sid, "")
    return {"jobs": jobs, "stages": stages}


def _union_s(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def session_metrics(log: dict, groups: set, wall: float, cores: int) -> dict:
    """Totals over the jobs whose group is in ``groups`` (one pass)."""
    jobs = [j for j in log["jobs"] if j["group"] in groups and j["end"]]
    sts = [st for st in log["stages"].values() if st["group"] in groups]
    run = sum(st["run_s"] for st in sts)
    busy = _union_s([(j["start"], j["end"]) for j in jobs])
    return {
        "session.jobs": len(jobs),
        "session.stages": len(sts),
        "session.tasks": sum(st["tasks"] for st in sts),
        "session.executor_run_s": run,
        "session.executor_cpu_s": sum(st["cpu_s"] for st in sts),
        "session.gc_s": sum(st["gc_s"] for st in sts),
        "session.shuffle_read_bytes": sum(st["shuffle_read"] for st in sts),
        "session.shuffle_write_bytes": sum(st["shuffle_write"]
                                           for st in sts),
        "session.spill_bytes": sum(st["spill"] for st in sts),
        "session.driver_gap_s": max(0.0, wall - busy),
        "session.core_busy_ratio": run / (wall * cores) if wall else 0.0,
    }


def max_over_median(xs) -> float:
    xs = list(xs)
    if not xs:
        return 0.0
    med = statistics.median(xs)
    return max(xs) / med if med > 0 else 0.0


# --- perf profiler rollup -------------------------------------------------

# metric -> [(module file, function name), ...]; cumulative time of each
# listed function inside the Python workers, summed.  The profiler strips
# directories from the pstats keys, so modules are matched by file name.
PROFILE_ROLLUP = {
    "extract.udf_s": [("extract.py", "_extract_batch")],
    "extract.relations_s": [("extract.py",
                             "_relations_multi_instance")],
    "tokenization.tokenize_s": [("tokenization.py",
                                 "tokenize_document")],
    "scoring.encode_s": [("scoring.py", "encode")],
    "scoring.span_pool_s": [("scoring.py", "token_maxpool"),
                            ("scoring.py",
                             "span_maxpool_windows")],
    "scoring.mention_s": [("scoring.py", "mention_logits")],
    "scoring.coref_s": [("scoring.py", "coref_logits"),
                        ("scoring.py", "edit_distance")],
    "scoring.typing_s": [("scoring.py", "entity_type_logits")],
    "scoring.pair_s": [("scoring.py", "pair_block"),
                       ("scoring.py", "mention_pair_repr"),
                       ("scoring.py", "relation_logits")],
    "clustering.complete_linkage_s": [("clustering.py",
                                       "complete_linkage")],
}
# span_maxpool_windows also pools the relation context windows; only its
# calls from _extract_batch count as span pooling
_SPAN_POOL_CALLER = ("extract.py", "_extract_batch")


def _match(key, file, func) -> bool:
    return key[2] == func and os.path.basename(key[0]) == file


def profile_rollup(spark) -> dict:
    """pstats of every profiled UDF -> the kernel metrics above, plus
    ``tokenization.encode_token_calls``."""
    out = {m: 0.0 for m in PROFILE_ROLLUP}
    out["tokenization.encode_token_calls"] = 0
    results = spark._profiler_collector._perf_profile_results
    for stats in results.values():
        for key, (_cc, nc, _tt, ct, callers) in stats.stats.items():
            if _match(key, "tokenization.py", "encode_token"):
                out["tokenization.encode_token_calls"] += nc
            for metric, funcs in PROFILE_ROLLUP.items():
                for suffix, func in funcs:
                    if not _match(key, suffix, func):
                        continue
                    if (metric == "scoring.span_pool_s"
                            and func == "span_maxpool_windows"):
                        ct = sum(c[3] for k, c in callers.items()
                                 if _match(k, *_SPAN_POOL_CALLER))
                    out[metric] += ct
    return out


# --- the per-layer metric set ---------------------------------------------

_S = "s"
PER_LAYER = {
    "sources.read_s": _S, "sources.write_s": _S,
    "sources.files_written": "count", "sources.bytes_written": "bytes",
    "corpus.extract_text_s": _S,
    "pipeline.salted_repartition_s": _S,
    "pipeline.partition_rows_max_over_median": "ratio",
    "extract.wall_s": _S, "extract.udf_s": _S, "extract.boundary_s": _S,
    "extract.arrow_bytes_in": "bytes", "extract.arrow_bytes_out": "bytes",
    "extract.task_s_max_over_median": "ratio", "extract.relations_s": _S,
    "extract.mentions": "count", "extract.entities": "count",
    "extract.triples": "count", "extract.capped_docs.spans": "count",
    "extract.capped_docs.mentions": "count",
    "extract.capped_docs.pairs": "count",
    "tokenization.tokenize_s": _S,
    "tokenization.encode_token_calls": "count",
    "scoring.encode_s": _S, "scoring.span_pool_s": _S,
    "scoring.mention_s": _S, "scoring.coref_s": _S,
    "scoring.typing_s": _S, "scoring.pair_s": _S,
    "clustering.complete_linkage_s": _S,
    "canonicalize.wall_s": _S, "canonicalize.forms": "count",
    "canonicalize.exact": "count", "canonicalize.lsh": "count",
    "canonicalize.self": "count", "canonicalize.lsh_candidates": "count",
    "canonicalize.verify_yield": "ratio",
    "graph.entity_phrases_s": _S, "graph.canonical_triples_s": _S,
    "graph.canonical_entity_table_s": _S, "graph.edges_s": _S,
    "graph.canonical_triples": "count", "graph.shuffle_bytes": "bytes",
    **{f"operators.{q}_s": _S for q in SUITE_QUERIES},
    "operators.construct_s": _S, "operators.jobs": "count",
    "session.jobs": "count", "session.stages": "count",
    "session.tasks": "count", "session.executor_run_s": _S,
    "session.executor_cpu_s": _S, "session.gc_s": _S,
    "session.shuffle_read_bytes": "bytes",
    "session.shuffle_write_bytes": "bytes", "session.spill_bytes": "bytes",
    "session.driver_gap_s": _S, "session.core_busy_ratio": "ratio",
    "session.scaling_eff": "ratio",
    "trace.overhead_s": _S, "trace.reconcile_ratio": "ratio",
}


def _extract_stage_metrics(log: dict, groups: set, udf_s: float) -> dict:
    """Stages of ``groups`` that ran Python (the mapInPandas extract and,
    on crawl_pages' corpus cut, the html->text UDF are separate groups)."""
    sts = [st for st in log["stages"].values()
           if st["group"] in groups and st["py_in"] > 0]
    run = sum(st["run_s"] for st in sts)
    return {
        "extract.boundary_s": max(0.0, run - udf_s),
        "extract.arrow_bytes_in": sum(st["py_in"] for st in sts),
        "extract.arrow_bytes_out": sum(st["py_out"] for st in sts),
        "extract.task_s_max_over_median": max_over_median(
            [t for st in sts for t in st["task_run_s"]]),
    }


def _dir_files(path: str) -> tuple[int, int]:
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


def _crawl_diagnostics(spark, tr, in_dir: str, out_dir: str) -> dict:
    """Counts read off the traced pass's cached cut outputs, in their own
    job group so they stay out of the session totals."""
    from pyspark.sql import functions as F

    from jerex_spark.canonicalize import _minhash_sigs, normalize_phrase
    spark.sparkContext.setJobGroup("diag", "diag")
    rep = tr.cached["pipeline.salted_repartition"]
    sizes = dict(rep.groupBy(F.spark_partition_id().alias("p")).count()
                 .collect())
    rows = [sizes.get(p, 0) for p in range(rep.rdd.getNumPartitions())]
    g = tr.cached["extract"].select(
        F.sum(F.size("mentions")), F.sum(F.size("entities")),
        F.sum(F.size("triples")),
        *[F.sum(F.col(f"truncated.{k}").cast("int"))
          for k in ("spans", "mentions", "pairs")]).first()
    canon = tr.cached["canonicalize"]
    kinds = dict(canon.select(normalize_phrase(F.col("phrase")).alias("n"),
                              "match_kind").distinct()
                 .groupBy("match_kind").count().collect())
    # candidate pairs of the LSH stage, rebuilt from the module's own
    # signature function over the forms the exact join missed
    alias = spark.read.parquet(os.path.join(in_dir, "alias.parquet"))
    dict_n = (alias.select(normalize_phrase(F.col("alias")).alias("a"),
                           "canonical_id")
              .groupBy("a").agg(F.min("canonical_id").alias("canonical_id")))
    forms = canon.select(normalize_phrase(F.col("phrase")).alias("norm"))
    miss = forms.distinct().join(dict_n, forms.norm == dict_n.a, "left_anti")
    cand = (_minhash_sigs(miss, "norm", ["norm"])
            .join(_minhash_sigs(dict_n, "a", ["a", "canonical_id"]),
                  ["hash_id", "sig"])
            .select("norm", "a", "canonical_id").distinct().count())
    files, size = _dir_files(out_dir)
    lsh = kinds.get("lsh", 0)
    return {
        "pipeline.partition_rows_max_over_median": max_over_median(rows),
        "extract.mentions": g[0] or 0, "extract.entities": g[1] or 0,
        "extract.triples": g[2] or 0,
        "extract.capped_docs.spans": g[3] or 0,
        "extract.capped_docs.mentions": g[4] or 0,
        "extract.capped_docs.pairs": g[5] or 0,
        "canonicalize.forms": sum(kinds.values()),
        "canonicalize.exact": kinds.get("exact", 0),
        "canonicalize.lsh": lsh, "canonicalize.self": kinds.get("self", 0),
        "canonicalize.lsh_candidates": cand,
        "canonicalize.verify_yield": lsh / cand if cand else 0.0,
        "graph.canonical_triples": tr.cached[
            "graph.canonical_triples"].count(),
        "sources.files_written": files, "sources.bytes_written": size,
    }


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def trace_crawl(args, in_dir, props, log, work, root) -> dict:
    """Warm-up, one untraced pass, one traced pass (cuts + profiler) in
    one event-logged session; then one pass in a local[1] session for the
    scaling diagnostic.  That pass has no warm-up of its own: it runs in
    the same, already warm JVM, and only the Python workers start again
    (about 1 s on a 4-core host, so scaling_eff reads slightly high)."""
    import checks
    import workloads as W
    cores = len(os.sched_getaffinity(0))
    log_dir = os.path.join(work, "eventlog")
    out = os.path.join(work, "out")
    spark = W.build(f"local[{cores}]", work, eventlog_conf(log_dir))
    tr = CutTracer(spark)
    try:
        W.pipeline_pass(spark, in_dir, out)
        digests = [checks.table_digest(out)]
        tr.tag("untraced")
        W.settle(spark)
        t_u = _timed(lambda: W.pipeline_pass(spark, in_dir, out))
        digests.append(checks.table_digest(out))
        spark.conf.set(PROFILER, "perf")
        W.settle(spark)
        t_t = _timed(lambda: W.pipeline_pass(spark, in_dir, out, tr))
        spark.conf.unset(PROFILER)
        digests.append(checks.table_digest(out))
        m = profile_rollup(spark)
        m.update(_crawl_diagnostics(spark, tr, in_dir, out))
        tr.release()
        parity = checks.extraction_parity(spark, in_dir, root, args.seed)
    finally:
        spark.stop()
    ev = parse_eventlog(log_dir)
    walls = tr.walls
    log(f"untraced pass {t_u:.3f} s, traced pass {t_t:.3f} s, cuts "
        + json.dumps({k: round(v, 3) for k, v in walls.items()}))

    spark1 = W.build("local[1]", work)
    try:
        W.settle(spark1)
        t_1 = _timed(lambda: W.pipeline_pass(spark1, in_dir, out))
    finally:
        spark1.stop()
    log(f"local[1] pass {t_1:.3f} s vs local[{cores}] {t_u:.3f} s")

    groups = set(walls)
    m.update(session_metrics(ev, groups, t_t, cores))
    m.update(_extract_stage_metrics(ev, {"extract"}, m["extract.udf_s"]))
    m.update({
        "sources.read_s": walls["sources.read"],
        "sources.write_s": walls["sources.write"],
        "corpus.extract_text_s": walls["corpus.extract_text"],
        "pipeline.salted_repartition_s": walls[
            "pipeline.salted_repartition"],
        "extract.wall_s": walls["extract"],
        "canonicalize.wall_s": walls["canonicalize"],
        "graph.entity_phrases_s": walls["graph.entity_phrases"],
        "graph.canonical_triples_s": walls["graph.canonical_triples"],
        "graph.canonical_entity_table_s": walls[
            "graph.canonical_entity_table"],
        "graph.edges_s": walls["graph.edges"],
        "graph.shuffle_bytes": sum(
            st["shuffle_write"] for st in ev["stages"].values()
            if st["group"].startswith("graph.")),
        "session.scaling_eff": (t_1 / t_u) / cores,
        "trace.overhead_s": t_t - t_u,
        "trace.reconcile_ratio": sum(walls.values()) / t_t,
    })
    attempted, failed = checks.crawl_verdict(digests, parity, log)
    return {"attempted": attempted, "failed": failed, "metrics": m}


def trace_suite(args, sf_dir, props, log, work, root) -> dict:
    """Warm-up, one untraced pass, one traced pass (job group per query +
    profiler) in one event-logged session, then the full-row DuckDB
    oracle comparison."""
    import checks
    import workloads as W
    cores = len(os.sched_getaffinity(0))
    log_dir = os.path.join(work, "eventlog")
    order = W.suite_order(args.seed)
    spark = W.build(f"local[{cores}]", work, eventlog_conf(log_dir))
    tr = CutTracer(spark)
    try:
        warm = W.suite_pass(spark, sf_dir, order)
        tr.tag("untraced")
        res_u, res_t = {}, {}
        W.settle(spark)
        t_u = _timed(lambda: res_u.update(
            W.suite_pass(spark, sf_dir, order)))
        spark.conf.set(PROFILER, "perf")
        W.settle(spark)
        t_t = _timed(lambda: res_t.update(
            W.suite_pass(spark, sf_dir, order, tr)))
        spark.conf.unset(PROFILER)
        m = profile_rollup(spark)
        tr.tag("diag")
        golden = set(checks.golden_backed(order))
        verdict = checks.suite_oracles(
            spark, sf_dir, [n for n in order if n not in golden])
    finally:
        spark.stop()
    ev = parse_eventlog(log_dir)
    log(f"untraced pass {t_u:.3f} s, traced pass {t_t:.3f} s")
    groups = set(order)
    m.update(session_metrics(ev, groups, t_t, cores))
    m.update({f"operators.{n}_s": c + a for n, (c, a, _) in res_t.items()})
    m.update({
        "operators.construct_s": sum(c for c, _, _ in res_t.values()),
        "operators.jobs": m["session.jobs"],
        "trace.overhead_s": t_t - t_u,
        "trace.reconcile_ratio": sum(
            c + a for c, a, _ in res_t.values()) / t_t,
    })
    attempted, failed = checks.suite_rows(warm, [res_u, res_t], sf_dir, log)
    for name, why in verdict.items():
        attempted += 1
        if why:
            failed += 1
            log(f"check FAILED {name} vs DuckDB oracle: {why}")
    log(f"check oracle rows: {sum(not w for w in verdict.values())}/"
        f"{len(verdict)} SQL-oracle queries equal DuckDB row for row")
    return {"attempted": attempted, "failed": failed, "metrics": m}
