"""Per-layer metrics of a traced run.

Every metric is derived from the spans the runner recorded around calls into
each layer, the Spark counters its listeners attributed to those spans, and
the per-op gauges. A layer's self time is its span's duration minus the part
of that interval its child spans cover. Warm passes only (pass >= 1), unless
a metric says otherwise. A layer the workload does not exercise reads 0.
"""
import re
import statistics

FAMILIES = {
    "relational": ("h", "j", "r", "a", "w", "e", "s", "p", "o", "set", "sub"),
    "text": ("t", "str", "u", "sql"),
    "dedup": ("d",),
    "vector": ("v",),
    "graph": ("g",),
    "kernel": ("k",),
    "lake": ("l", "tar", "tf"),
}
KERNELS = ("minhash_sig", "simhash60", "cosine_sim", "lev_within", "url_canonical",
           "nfc_normalize", "bloom_might_contain", "bpe_encode")
CANDY_OUTPUTS = ("line_items", "orders", "inventory", "daily")


def family(q):
    """Query family from the name's letter prefix (q_tar1_... -> "tar")."""
    m = re.match(r"q_([a-z]+)", q)
    return next((f for f, ps in FAMILIES.items() if m and m.group(1) in ps), None)


def med(xs):
    return statistics.median(xs) if xs else 0.0


def union_ms(intervals):
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


class Trace:
    def __init__(self, res):
        self.spans = {s["id"]: s for s in res["spans"]}
        self.children = {}
        for s in res["spans"]:
            self.children.setdefault(s["parent"], []).append(s)
        self.pass_of = {}
        for s in res["spans"]:
            p = s
            while p["parent"] >= 0:
                p = self.spans[p["parent"]]
            root, _, n = p["name"].partition("-")
            self.pass_of[s["id"]] = int(n) if root in ("pass", "stages", "write") else -1

    def dur_ms(self, s):
        return s["end_ms"] - s["start_ms"]

    def self_s(self, s):
        kids = [(c["start_ms"], c["end_ms"]) for c in self.children.get(s["id"], [])]
        return (self.dur_ms(s) - union_ms(kids)) / 1000.0

    def subtree(self, s):
        out = [s]
        for c in self.children.get(s["id"], []):
            out += self.subtree(c)
        return out

    def total(self, s, counter):
        return sum(x["counters"].get(counter, 0.0) for x in self.subtree(s))

    def jobs(self, s):
        return [tuple(j) for x in self.subtree(s) for j in x["jobs"]]

    def warm(self, name):
        return [s for s in self.spans.values() if s["name"] == name and self.pass_of[s["id"]] > 0]


def per_layer(res, e2e):
    t = Trace(res)
    m = {}

    def put(name, value, unit):
        m[name] = {"value": float(value), "unit": unit}

    # candy: the sinks of the real batch (pass-N), and the isolated stage
    # timings that follow each traced pass (stages-N)
    def stage(name):
        return t.warm("candy." + name)

    passes = [s for s in t.spans.values() if s["name"].startswith("pass-") and t.pass_of[s["id"]] > 0]
    put("candy.ingest.self_s", med([t.self_s(s) for s in stage("ingest")]), "s")
    put("candy.ingest.rows", med([t.total(s, "file_records") for s in passes]), "count")
    put("candy.prepare.self_s", med([t.self_s(s) for s in stage("prepare")]), "s")
    put("candy.prepare.shuffle_bytes",
        med([t.total(s, "shuffle_write_bytes") for s in stage("prepare")]), "bytes")
    ful = stage("fulfillment")
    put("candy.fulfillment.self_s", med([t.self_s(s) for s in ful]), "s")
    put("candy.fulfillment.rows_per_s",
        med([s["counters"].get("rows", 0.0) / t.self_s(s) for s in ful if t.self_s(s) > 0]), "rows/s")
    put("candy.fulfillment.max_task_s", med([max(s["task_ms"] or [0]) / 1000.0 for s in ful]), "s")
    put("candy.fulfillment.task_skew",
        med([max(s["task_ms"]) / max(1.0, statistics.median(s["task_ms"]))
             for s in ful if s["task_ms"]]), "ratio")
    outs = {k: stage("outputs." + k) for k in CANDY_OUTPUTS + ("forecast",)}
    for k in CANDY_OUTPUTS:
        put("candy.outputs.%s.self_s" % k, med([t.self_s(s) for s in outs[k]]), "s")
    by_pass = {}
    for spans in outs.values():
        for s in spans:
            by_pass.setdefault(t.pass_of[s["id"]], []).append(s)
    put("candy.outputs.jobs", med([sum(t.total(s, "jobs") for s in ss) for ss in by_pass.values()]),
        "count")
    put("candy.outputs.csv_bytes",
        med([sum(t.total(s, "output_bytes") for s in ss) for ss in by_pass.values()]), "bytes")
    put("candy.forecast.self_s", med([t.self_s(s) for s in stage("forecast")]), "s")

    # operators: one op per query execution (on candy_e2e, per call of the batch)
    ops = [o for o in res["ops"] if o["pass"] > 0 and o["span"] >= 0 and not o["error"]]
    for f in FAMILIES:
        put("operators.%s.p50_s" % f, med([o["s"] for o in ops if family(o["name"]) == f]), "s")
    spans = [t.spans[o["span"]] for o in ops]
    put("operators.jobs_per_query", med([t.total(s, "jobs") for s in spans]), "count")
    put("operators.tasks_per_query", med([t.total(s, "tasks") for s in spans]), "count")
    put("operators.driver_gap_s",
        med([(t.dur_ms(s) - union_ms(t.jobs(s))) / 1000.0 for s in spans]), "s")
    put("operators.task_cpu_s", med([t.total(s, "task_cpu_ns") / 1e9 for s in spans]), "s")
    put("operators.gc_s", med([t.total(s, "gc_ms") / 1000.0 for s in spans]), "s")
    put("operators.shuffle_bytes", med([t.total(s, "shuffle_write_bytes") for s in spans]), "bytes")
    put("operators.spill_bytes", med([t.total(s, "spill_bytes") for s in spans]), "bytes")
    put("operators.blocks_left", max([o["blocks"] for o in res["ops"]] or [0]), "count")
    put("operators.storage_bytes_left", max([o["storage_bytes"] for o in res["ops"]] or [0]),
        "bytes")

    # plans: per query execution, every pass (the cold pass is where codegen
    # compiles); a query's own plan plus any Dataset action it runs inside
    all_ops = [o for o in res["ops"] if o["span"] >= 0 and not o["error"]]
    internal = {}
    for o in all_ops:
        s = t.spans[o["span"]]
        internal[o["span"]] = [r["m"] for r in res["sql"]
                               if s["start_ms"] - 1 <= r["start_ms"] <= s["end_ms"] + 1]
    for phase in ("analysis", "optimization", "planning"):
        put("plans.%s_ms" % phase,
            statistics.mean([o["plan_ms"].get(phase, 0.0) +
                             sum(r.get(phase + "_ms", 0.0) for r in internal[o["span"]])
                             for o in all_ops]) if all_ops else 0.0, "ms")
    put("plans.codegen_ms", statistics.mean([o["codegen_ms"] for o in all_ops]) if all_ops else 0.0,
        "ms")

    kern = {k["name"]: k for k in res["kernels"]}
    for k in KERNELS:
        put("functions.%s.rows_per_s" % k,
            kern[k]["rows"] / kern[k]["s"] if k in kern and kern[k]["s"] > 0 else 0.0, "rows/s")

    # sources: the write-path runs of a traced mix, else the passes (the
    # candy CSV sinks)
    writes = [s for s in t.spans.values() if s["name"].startswith("write-") and t.pass_of[s["id"]] > 0]
    put("sources.output_bytes", med([t.total(s, "output_bytes") for s in writes or passes]), "bytes")
    files = {}
    for s in writes or passes:
        files[s["id"]] = sum(r["m"].get("files", 0.0) for r in res["sql"]
                             if s["start_ms"] <= r["start_ms"] <= s["end_ms"])
    put("sources.files_written", med(list(files.values())), "count")
    put("sources.scratch_bytes_left", max([o["scratch_bytes"] for o in res["ops"]] or [0]), "bytes")

    b = res["batches"]
    write_ops = [o for o in res["ops"] if o["section"] == "write"]
    put("streaming.batches", len(b) / max(1, len(write_ops)), "count")
    put("streaming.batch_p50_ms", med([x["triggerExecution"] for x in b if "triggerExecution" in x]),
        "ms")
    put("streaming.add_batch_ms", med([x["addBatch"] for x in b if "addBatch" in x]), "ms")

    put("trace.pass_s", e2e["pass_s"], "s")
    return m
