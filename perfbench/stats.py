"""The benchmark's arithmetic: percentiles, span self time, job-to-layer
attribution, per-layer tables and failure counting. Pure functions over the
raw measurements BenchMain writes; perfbench/tests covers them.
"""
import math
import re
import statistics

# Source file of a job's call site -> the repo module (layer) it belongs to.
# A call site in any other file (the benchmark's own, or Spark's thread
# pools) falls back to the layer of the span that submitted the job.
CALL_SITE_LAYER = {
    "Merge.scala": "merge",
    "Incremental.scala": "incremental",
    "GraphMetrics.scala": "graph",
    "BulkSink.scala": "bulk",
    "Collections.scala": "pipelines",
    "Payloads.scala": "pipelines",
    "Keys.scala": "pipelines",
    "Geo.scala": "pipelines",
    "Dedup.scala": "pipelines",
    "Tables.scala": "sources",
    "GraftSession.scala": "session",
    "Caches.scala": "session",
}
# files of graft.queries: a job they submit belongs to the queries layer
QUERY_FILES = {"Relational.scala", "JsonPipelines.scala", "LlmPipelines.scala",
               "Graphs.scala", "Extensions.scala", "Curation.scala",
               "Sinks.scala", "Summaries.scala", "Oracles.scala"}

SOURCE_READERS = {"sources", "incremental", "pipelines", "queries"}

_SITE = re.compile(r"\bat (\w+\.scala):\d+$")


def call_site_file(call_site):
    """'parquet at Merge.scala:559' -> 'Merge.scala'; None for non-Scala sites."""
    m = _SITE.search(call_site or "")
    return m.group(1) if m else None


def call_site_layer(call_site):
    f = call_site_file(call_site)
    if f is None:
        return None
    if f in QUERY_FILES:
        return "queries"
    return CALL_SITE_LAYER.get(f)


def tail_percentile(samples):
    """The highest integer percentile p with at least ten samples beyond it.

    Nearest-rank: the p-th percentile is the k-th smallest sample with
    k = ceil(p * n / 100), and n - k samples lie beyond it. Returns
    (p, value), or None when there are ten samples or fewer.
    """
    xs = sorted(samples)
    n = len(xs)
    for p in range(99, 0, -1):
        k = math.ceil(p * n / 100)
        if n - k >= 10:
            return p, xs[k - 1]
    return None


def covered(intervals, lo, hi):
    """Length of the union of `intervals` clipped to [lo, hi]."""
    segs = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in segs:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class SpanTree:
    """Spans (seconds on one clock) with parent links, and the jobs each
    span submitted. A job is attributed to the span that was innermost open
    when it was submitted.
    """

    def __init__(self, spans, jobs):
        self.spans = {s["id"]: s for s in spans}
        self.children = {i: [] for i in self.spans}
        for s in spans:
            if s["parent"] in self.children:
                self.children[s["parent"]].append(s["id"])
        self.jobs_of = {i: [] for i in self.spans}
        for j in jobs:
            if j["span"] in self.jobs_of:
                self.jobs_of[j["span"]].append(j)

    def wall(self, i):
        s = self.spans[i]
        return s["end"] - s["start"]

    def self_time(self, i):
        """Span wall minus the part of its interval its child spans cover."""
        s = self.spans[i]
        kids = [(self.spans[c]["start"], self.spans[c]["end"]) for c in self.children[i]]
        return self.wall(i) - covered(kids, s["start"], s["end"])

    def subtree(self, i):
        out, todo = [], [i]
        while todo:
            k = todo.pop()
            out.append(k)
            todo.extend(self.children[k])
        return out

    def subtree_jobs(self, i):
        return [j for k in self.subtree(i) for j in self.jobs_of[k]]

    def driver_gap(self, i):
        """Span wall not covered by any Spark job its subtree submitted."""
        s = self.spans[i]
        return self.wall(i) - covered([(j["start"], j["end"]) for j in self.subtree_jobs(i)],
                                      s["start"], s["end"])

    def job_layer(self, j):
        return call_site_layer(j["call_site"]) or self.spans[j["span"]]["layer"]


def normalize(raw):
    """Put spans (nanoTime) and jobs (epoch ms) on one axis in seconds, and
    give each job of a SQL execution the call site of the action that
    started the execution: Spark submits an adaptive plan's jobs from its
    own thread pool, so their own call site names a pool frame.
    """
    clock = raw["clock"]
    offset_s = clock["epoch_ms"] / 1e3 - clock["nano"] / 1e9
    spans = [dict(s, start=s["start_ns"] / 1e9 + offset_s, end=s["end_ns"] / 1e9 + offset_s)
             for s in raw["spans"]]
    sites = raw["execution_sites"]
    jobs = [dict(j, call_site=sites.get(j.get("execution"), j["call_site"]),
                 start=j["start_ms"] / 1e3, end=j["end_ms"] / 1e3)
            for j in raw["jobs"]]
    return spans, jobs


def kind_geomean(ops):
    """Geometric mean, over op names, of each name's median wall. Every kind
    of op weighs the same however long it runs, and no single kind decides
    the figure, as the median of a mix of unlike walls would (follower: one
    kind, so this is the median epoch wall).
    """
    by_name = {}
    for o in ops:
        by_name.setdefault(o["name"], []).append(o["wall_s"])
    return math.exp(statistics.fmean(math.log(statistics.median(w))
                                     for w in by_name.values()))


def failed_share(attempted, failed):
    return failed / attempted if attempted else 1.0


def count_outcomes(ops, oracle_failed=()):
    """(attempted, failed) over timed ops. An op fails on an error or a
    wrong result; an op of a query whose oracle check failed counts as
    failed too.
    """
    bad = set(oracle_failed)
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"] or o["name"] in bad)
    return attempted, failed


def accounting_residual(tree, op_ids):
    """Largest |sum of self times in an op's span subtree - op wall|; the
    self times of a well-nested tree add up to the root's wall exactly.
    """
    worst = 0.0
    for i in op_ids:
        total = sum(tree.self_time(k) for k in tree.subtree(i))
        worst = max(worst, abs(total - tree.wall(i)))
    return worst


def _sum(jobs, key):
    return sum(j[key] for j in jobs)


def _busy(tree, jobs, span_id):
    s = tree.spans[span_id]
    return covered([(j["start"], j["end"]) for j in jobs], s["start"], s["end"])


def layer_table(tree, op_ids):
    """Per layer, summed over the given op spans: spans, self time, jobs,
    busy time (union of the layer's job intervals), executor CPU, tasks and
    I/O counters. A job's layer is its call site's module, else its span's.
    """
    rows = {}

    def row(layer):
        return rows.setdefault(layer, dict(
            spans=0, self_s=0.0, jobs=0, busy_s=0.0, cpu_s=0.0, tasks=0,
            failed_tasks=0, shuffle_read=0, shuffle_write=0, spill=0,
            records_read=0, bytes_read=0, bytes_written=0, files_written=0,
            max_task_s=0.0))

    for op in op_ids:
        by_layer = {}
        for k in tree.subtree(op):
            r = row(tree.spans[k]["layer"])
            r["spans"] += 1
            r["self_s"] += tree.self_time(k)
        for j in tree.subtree_jobs(op):
            by_layer.setdefault(tree.job_layer(j), []).append(j)
        for layer, js in by_layer.items():
            r = row(layer)
            r["jobs"] += len(js)
            r["busy_s"] += _busy(tree, js, op)
            r["cpu_s"] += _sum(js, "cpu_ns") / 1e9
            r["max_task_s"] = max(r["max_task_s"], max(j["max_task_ms"] for j in js) / 1e3)
            for key in ("tasks", "failed_tasks", "shuffle_read", "shuffle_write", "spill",
                        "records_read", "bytes_read", "bytes_written", "files_written"):
                r[key] += _sum(js, key)
    return rows


def per_layer_metrics(raw, queries):
    """The per-layer metrics of one traced run, each averaged over the
    traced ops (per epoch on follower, per execution on
    query_mix). Layers the workload does not exercise read 0.
    """
    spans, jobs = normalize(raw)
    tree = SpanTree(spans, jobs)
    ops = raw["ops"]
    traced = [o for o in ops if o["traced"] and o["span"] in tree.spans]
    op_ids = [o["span"] for o in traced]
    n = max(1, len(op_ids))
    rows = layer_table(tree, op_ids)
    facts, setup = raw["facts"], raw["setup"]

    def lay(layer, key):
        return rows.get(layer, {}).get(key, 0) / n

    def spans_named(layer, name=None):
        return [k for op in op_ids for k in tree.subtree(op)
                if tree.spans[k]["layer"] == layer
                and (name is None or tree.spans[k]["name"] == name)]

    def counted(ids, key):
        return sum(tree.spans[k]["counts"].get(key, 0) for k in ids)

    epochs = spans_named("incremental", "Driver.runEpoch")
    bytes_per_row = facts.get("sink_bytes", 0) / facts["sink_rows"] if facts.get("sink_rows") else 0.0
    # documents handed to Merge: the pipelines' output inside the sync
    to_merge = sum(counted([k for k in tree.subtree(e) if tree.spans[k]["layer"] == "pipelines"],
                           "docs") for e in epochs)
    merge_written = rows.get("merge", {}).get("bytes_written", 0)
    all_jobs = [j for op in op_ids for j in tree.subtree_jobs(op)]
    # the layers whose jobs scan the source tables (graph and bulk re-read
    # persisted frames, merge reads the sinks)
    scans = [j for j in all_jobs if tree.job_layer(j) in SOURCE_READERS]

    m = {
        "session.start_s": setup.get("session.start_s", 0.0),
        "session.warmup_s": setup.get("session.warmup_s", 0.0),
        "sources.rows_read": _sum(scans, "records_read") / n,
        "sources.bytes_read": _sum(scans, "bytes_read") / n,
        "pipelines.cpu_s": lay("pipelines", "cpu_s"),
        "pipelines.docs_out": counted(spans_named("pipelines"), "docs") / n,
        "merge.busy_s": lay("merge", "busy_s"),
        "merge.jobs": lay("merge", "jobs"),
        "merge.bytes_written": lay("merge", "bytes_written"),
        "merge.files_written": lay("merge", "files_written"),
        "merge.write_amp": (merge_written / (to_merge * bytes_per_row)
                            if to_merge and bytes_per_row else 0.0),
        "incremental.epoch_s": sum(tree.wall(e) for e in epochs) / max(1, len(epochs)),
        "incremental.jobs_per_epoch": sum(len(tree.subtree_jobs(e)) for e in epochs) / max(1, len(epochs)),
        "incremental.driver_gap_s": sum(tree.driver_gap(e) for e in epochs) / max(1, len(epochs)),
        "graph.busy_s": lay("graph", "busy_s"),
        "graph.cpu_s": lay("graph", "cpu_s"),
        "graph.max_task_s": rows.get("graph", {}).get("max_task_s", 0.0),
        "graph.cities_scored": facts.get("cities_scored", 0),
        "bulk.busy_s": lay("bulk", "busy_s"),
        "bulk.docs": counted(spans_named("bulk"), "docs") / n,
        "bulk.batches": counted(spans_named("bulk"), "batches") / n,
        "sink.bytes_per_row": bytes_per_row,
    }
    qspans = spans_named("queries")
    for q in queries:
        mine = [k for k in qspans if tree.spans[k]["name"] == q]
        k = max(1, len(mine))
        m[f"query.{q}.s"] = sum(tree.wall(i) for i in mine) / k
        m[f"query.{q}.jobs"] = sum(len(tree.subtree_jobs(i)) for i in mine) / k
        m[f"query.{q}.shuffle_bytes"] = sum(_sum(tree.subtree_jobs(i), "shuffle_write")
                                            for i in mine) / k
    m["queries.driver_gap_s"] = sum(tree.driver_gap(i) for i in qspans) / max(1, len(qspans))
    m["spark.tasks_failed"] = _sum(all_jobs, "failed_tasks")
    m["spark.spill_bytes"] = _sum(all_jobs, "spill") / n
    on = [o["wall_s"] for o in traced]
    off = [o["wall_s"] for o in ops if not o["traced"]]
    if on and off:
        m["trace.overhead_s"] = statistics.median(on) - statistics.median(off)
        m["trace.overhead_share"] = m["trace.overhead_s"] / statistics.median(off)
    else:
        m["trace.overhead_s"] = m["trace.overhead_share"] = 0.0
    m["trace.self_residual_s"] = accounting_residual(tree, op_ids)
    return m, rows, tree, op_ids
