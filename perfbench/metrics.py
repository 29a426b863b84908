"""Reduces one benchmark run (the JSON the JVM side writes) to metrics.

Every workload reports the same metrics, so a run's result line holds every
metric of BENCHMARK.json: the end-to-end metrics (`headline`) come from the
requests of the untraced phase, the per-layer metrics (`per_layer`) only
from spans of the traced phase. Each workload also prints its own metrics
by the names of its operations (`workload_metrics`, `workload_layer`). The
statistics used here are tested in perfbench/tests.
"""
import math

WORKLOAD_OPS = {
    "transcripts_encode": ("encode",),
    "transcripts_scan": ("scan", "roundtrip"),
    "conv_lookup": ("lookup",),
}

# Every per-layer metric, with its unit. `bytes.*` and the flush reasons
# are fixed lists so each run reports the same names.
COLUMNS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")
STRING_COLUMNS = ("conv_id", "role", "text", "tool")
FLUSH_REASONS = ("MAX_ROWS", "MAX_BYTES", "DICTIONARY_FULL", "CLOSED")
BYTES_STREAMS = (
    "conv_id.DATA", "conv_id.LENGTH", "conv_id.DICTIONARY_DATA",
    "turn_idx.DATA",
    "role.DATA", "role.LENGTH", "role.DICTIONARY_DATA",
    "text.PRESENT", "text.DATA", "text.LENGTH", "text.DICTIONARY_DATA",
    "tool.PRESENT", "tool.DATA", "tool.LENGTH", "tool.DICTIONARY_DATA",
    "ts.DATA", "ts.SECONDARY",
)


def median(xs):
    xs = sorted(xs)
    if not xs:
        return None
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def tail_percentile(xs, p, min_beyond=10):
    """Nearest-rank p-th percentile of `xs` and the number of samples above
    its rank. The percentile is fixed, so runs with different sample counts
    are judged at the same one; raises ValueError when fewer than
    `min_beyond` samples lie beyond it, as the value would then be little
    more than the run's maximum."""
    xs = sorted(xs)
    rank = max(1, -(-p * len(xs) // 100))
    beyond = len(xs) - rank
    if beyond < min_beyond:
        raise ValueError(f"p{p} of {len(xs)} samples leaves {beyond} beyond it, "
                         f"fewer than {min_beyond}")
    return xs[rank - 1], beyond


def covered(intervals, start, end):
    """Length of the union of `intervals` clipped to [start, end)."""
    total, cur = 0, start
    for s, e in sorted(intervals):
        s, e = max(s, cur), min(e, end)
        if e > s:
            total += e - s
            cur = e
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover; children
    that overlap each other are counted once."""
    return (span["end_ns"] - span["start_ns"]) - covered(
        [(c["start_ns"], c["end_ns"]) for c in children], span["start_ns"], span["end_ns"])


def digest_total(d):
    rows, hi, lo = d
    return rows, (hi << 32) + lo


def digest_equal(a, b):
    """Digests are (rows, sum of high halves, sum of low halves) of xxhash64;
    equal when row counts and the recombined hash sums are equal."""
    return digest_total(a) == digest_total(b)


def check_ok(c):
    if c["kind"] == "digest":
        return digest_equal(c["expected"], c["got"])
    return c["expected"] == c["got"]


def op_ok(op):
    return op.get("error") is None and all(check_ok(c) for c in op["checks"])


def failures(ops):
    out = []
    for op in ops:
        if op.get("error") is not None:
            out.append(f"{op['kind']} ({op['phase']}): {op['error']}")
        for c in op["checks"]:
            if not check_ok(c):
                out.append(f"{op['kind']} ({op['phase']}): {c['name']}: "
                           f"expected {c['expected']} got {c['got']}")
    return out


def throughput(ops, kind):
    """Median over operations of turns per second of wall time."""
    return median([o["turns"] / (o["wall_ns"] / 1e9) for o in ops if o["kind"] == kind])


def requests(ops):
    """Operations grouped by the request they belong to, in run order."""
    out = {}
    for o in ops:
        if o["kind"] != "replay":
            out.setdefault(o["request"], []).append(o)
    return list(out.values())


def compression_ratio(ops, facts):
    """Median over encode jobs of Σ manifest rawBytes / Σ .moth bytes of
    their output; for workloads that only read, that of the files they read."""
    enc = [o["attrs"]["raw_bytes"] / o["attrs"]["file_bytes"] for o in ops if o["kind"] == "encode"]
    return median(enc) if enc else facts["raw_bytes"] / facts["file_bytes"]


def headline(ops, facts):
    """The end-to-end metrics every workload reports, from one phase's
    operations: name -> (value, unit, note). A request is one encode job,
    one read of the table through both decode surfaces, or one lookup."""
    reqs = requests(ops)
    turns = sum(o["turns"] for r in reqs for o in r)
    wall_s = sum(o["wall_ns"] for r in reqs for o in r) / 1e9
    return {
        "turns_per_s": (turns / wall_s, "turns/s",
                        f"{turns} turns delivered in {wall_s:.3f} s of {len(reqs)} requests"),
        "latency_ms_p50": (median([sum(o["wall_ns"] for o in r) / 1e6 for r in reqs]), "ms",
                           f"median of {len(reqs)} requests"),
        "compression_ratio": (compression_ratio(ops, facts), "x",
                              "sum of manifest rawBytes / sum of .moth bytes"),
    }


def workload_metrics(workload, ops):
    """The workload's own metrics, named after its operations, of one
    phase's operations: name -> (value, unit, note)."""
    m = {}
    if workload == "transcripts_encode":
        enc = [o for o in ops if o["kind"] == "encode"]
        m["encode_turns_per_s"] = (throughput(ops, "encode"), "turns/s",
                                   f"median of {len(enc)} encode jobs")
    elif workload == "transcripts_scan":
        for kind in ("scan", "roundtrip"):
            n = sum(o["kind"] == kind for o in ops)
            m[f"{kind}_turns_per_s"] = (throughput(ops, kind), "turns/s", f"median of {n} {kind}s")
    else:
        ms = {label: [o["wall_ns"] / 1e6 for o in ops
                      if o["kind"] == "lookup" and o["attrs"].get("absent") == absent]
              for label, absent in (("present", False), ("absent", True))}
        for label, xs in ms.items():
            m[f"lookup_ms_p50.{label}"] = (median(xs), "ms", f"median of {len(xs)} {label}-key lookups")
        v, beyond = tail_percentile(ms["present"], 90)
        m["lookup_ms_p90.present"] = (v, "ms", f"p90 of {len(ms['present'])} present-key lookups, "
                                               f"{beyond} beyond it")
    return m


class SpanIndex:
    def __init__(self, spans):
        self.spans = spans
        self.children = {}
        for s in spans:
            self.children.setdefault(s["parent"], []).append(s)

    def named(self, name):
        return [s for s in self.spans if s["name"] == name]

    def descendants(self, span, name=None):
        out, todo = [], list(self.children.get(span["id"], []))
        while todo:
            s = todo.pop()
            if name is None or s["name"] == name:
                out.append(s)
            todo.extend(self.children.get(s["id"], []))
        return out


def dur_s(s):
    return (s["end_ns"] - s["start_ns"]) / 1e9


def med_dur(idx, name):
    return median([dur_s(s) for s in idx.named(name)])


def last_attr(idx, name, key, default=None):
    spans = idx.named(name)
    return spans[-1]["attrs"].get(key, default) if spans else default


def stage_roles(stages):
    """An encode job's stages by role: range-bound sampling, map (shuffle
    write) and result (shuffle read)."""
    mp = [s for s in stages if s["attrs"]["shuffle_write_bytes"] > 0]
    rs = [s for s in stages if s["attrs"]["shuffle_read_bytes"] > 0]
    return [s for s in stages if s not in mp and s not in rs], mp, rs


def task_skew(idx, stage):
    """Max over median task run time of one stage, or None without tasks."""
    runs = [t["attrs"]["run_ms"] for t in idx.descendants(stage, "spark.task")]
    return max(runs) / median(runs) if runs and median(runs) > 0 else None


def spark_layer(idx, traced_ops):
    """graft.spark metrics every workload reports, per traced request."""
    m = {}
    reqs = idx.named("request")
    stages = {r["id"]: idx.descendants(r, "spark.stage") for r in reqs}
    jobs = {r["id"]: idx.descendants(r, "spark.job") for r in reqs}
    tasks = {r["id"]: idx.descendants(r, "spark.task") for r in reqs}
    ops = {r["id"]: [s for s in idx.descendants(r) if s["name"].startswith("op.")] for r in reqs}
    m["spark.jobs"] = (median([len(jobs[r["id"]]) for r in reqs]), "count")
    m["spark.stages"] = (median([len(stages[r["id"]]) for r in reqs]), "count")
    m["spark.tasks"] = (median([len(tasks[r["id"]]) for r in reqs]), "count")
    m["spark.plan_ms"] = (median([(min(t["start_ns"] for t in tasks[r["id"]]) - r["start_ns"]) / 1e6
                                  for r in reqs if tasks[r["id"]]]), "ms")
    m["spark.driver_self_ms"] = (median([self_time(r, jobs[r["id"]]) / 1e6 for r in reqs]), "ms")
    longest = [max(stages[r["id"]], key=dur_s) for r in reqs if stages[r["id"]]]
    # A mean, not a median: stage times come in whole milliseconds.
    m["spark.longest_stage_s"] = (sum(dur_s(s) for s in longest) / len(longest)
                                  if longest else None, "s")
    m["spark.task_skew"] = (median([x for x in (task_skew(idx, s) for s in longest)
                                    if x is not None]), "ratio")
    all_stages = [s for r in reqs for s in stages[r["id"]]]
    run_ns = sum(s["attrs"]["run_ms"] for s in all_stages) * 1e6
    m["spark.cpu_ratio"] = (sum(s["attrs"]["cpu_ns"] for s in all_stages) / run_ns
                            if run_ns else None, "fraction")
    m["spark.gc_ms"] = (sum(o["attrs"].get("gc_ms", 0) for r in reqs for o in ops[r["id"]])
                        / len(reqs) if reqs else None, "ms")
    m["spark.shuffle_write_mb"] = (median([
        sum(s["attrs"]["shuffle_write_bytes"] for s in stages[r["id"]]) / 1e6 for r in reqs]), "MB")
    m["spark.moth_bytes_read_mb"] = (median([
        sum(o["attrs"].get("moth_bytes_read", 0) for o in ops[r["id"]]) / 1e6 for r in reqs]), "MB")
    turns = sum(o["turns"] for o in traced_ops)
    alloc = sum(o["attrs"].get("alloc_bytes", 0) for r in reqs for o in ops[r["id"]])
    m["jvm.alloc_mb_per_kturn"] = (alloc / 1e6 / (turns / 1e3) if turns else None, "MB")
    return m


def workload_layer(workload, idx, traced_ops):
    """The workload's own per-layer metrics, named after its operations."""
    m = {}
    ops = [s for s in idx.spans if s["name"].startswith("op.") and s["name"] != "op.replay"]
    stages = {id(o): idx.descendants(o, "spark.stage") for o in ops}
    for kind in WORKLOAD_OPS[workload]:
        kops = [o for o in ops if o["name"] == "op." + kind]
        turns = sum(op["turns"] for op in traced_ops if op["kind"] == kind)
        if kind != "lookup" and turns:
            m[f"jvm.alloc_mb_per_kturn.{kind}"] = (
                sum(o["attrs"].get("alloc_bytes", 0) for o in kops) / 1e6 / (turns / 1e3), "MB")
        if kind in ("scan", "roundtrip"):
            m[f"spark.{kind}.stage_s"] = (median([
                max([dur_s(s) for s in stages[id(o)]], default=0) for o in kops]), "s")
    if workload == "transcripts_encode":
        sample, mapped, result, skew = [], [], [], []
        for o in ops:
            sp, mp, rs = stage_roles(stages[id(o)])
            sample.append(sum(dur_s(s) for s in sp))
            mapped.append(sum(dur_s(s) for s in mp))
            result.append(sum(dur_s(s) for s in rs))
            skew += [x for x in (task_skew(idx, s) for s in rs) if x is not None]
        m["spark.encode.sample_s"] = (median(sample), "s")
        m["spark.encode.map_stage_s"] = (median(mapped), "s")
        m["spark.encode.result_stage_s"] = (median(result), "s")
        m["spark.encode.task_skew"] = (median(skew), "ratio")
    if workload == "conv_lookup":
        plan, exe = [], []
        for o in ops:
            tasks = idx.descendants(o, "spark.task")
            actions = idx.descendants(o, "spark.action")
            if tasks and actions:
                first = min(t["start_ns"] for t in tasks)
                plan.append((first - o["start_ns"]) / 1e6)
                exe.append((actions[0]["end_ns"] - first) / 1e6)
        m["lookup.plan_ms_p50"] = (median(plan), "ms")
        m["lookup.exec_ms_p50"] = (median(exe), "ms")
        m["lookup.tasks"] = (median([o["attrs"]["scan_partitions"] for o in ops]), "count")
        for absent, label in ((False, "present"), (True, "absent")):
            b = [o["attrs"]["moth_bytes_read"] / 1024 for o in ops if o["attrs"]["absent"] == absent]
            m[f"lookup.bytes_read_kb.{label}"] = (median(b), "KB")
        results = sum(o["turns"] for o in traced_ops if o["kind"] == "lookup")
        scanned = sum(o["attrs"]["scan_rows"] for o in ops)
        m["lookup.rows_scanned_per_result"] = (scanned / results if results else None, "ratio")
    return m


def core_layer(idx):
    m = {}
    for name, metric in (
            ("core.file.writer.write", "core.file.writer.write_s"),
            ("core.file.writer.close", "core.file.writer.close_s"),
            ("core.file.reader.open", "core.file.reader.open_s"),
            ("core.file.reader.decode", "core.file.reader.decode_s"),
            ("core.columns.dict_build", "core.columns.dict_build_s"),
            ("core.fsst.train", "core.fsst.train_s"),
            ("core.fsst.encode", "core.fsst.encode_s"),
            ("core.fsst.decode", "core.fsst.decode_s"),
            ("core.rle.v2_encode", "core.rle.v2_encode_s"),
            ("core.rle.byte_rle", "core.rle.byte_rle_s"),
            ("core.rle.v2_decode", "core.rle.v2_decode_s"),
            ("core.io.bitpack", "core.io.bitpack_s"),
            ("core.io.bitunpack", "core.io.bitunpack_s"),
            ("core.compress.compress", "core.compress.compress_s"),
            ("core.compress.decompress", "core.compress.decompress_s"),
            ("core.stats.build", "core.stats.build_s"),
            ("core.stats.bloom_add", "core.stats.bloom_add_s"),
            ("core.stats.bloom_test", "core.stats.bloom_test_s")):
        m[metric] = (med_dur(idx, name), "s")
    for c in COLUMNS:
        m[f"core.file.reader.decode_s.{c}"] = (med_dur(idx, f"core.file.reader.decode.{c}"), "s")
    m["core.file.reader.bytes_read_mb"] = (
        last_attr(idx, "core.file.reader.decode", "bytes_read", 0) / 1e6, "MB")
    w = "core.file.writer"
    m["core.file.writer.peak_retained_mb"] = (last_attr(idx, w, "peak_retained_bytes", 0) / 1e6, "MB")
    m["core.file.stripes"] = (last_attr(idx, w, "stripes"), "count")
    for r in FLUSH_REASONS:
        m[f"core.file.flush.{r}"] = (last_attr(idx, w, f"flush.{r}", 0), "count")
    m["core.file.replay_mb"] = (last_attr(idx, w, "replay_bytes", 0) / 1e6, "MB")
    m["core.file.original_mb"] = (last_attr(idx, w, "original_bytes", 0) / 1e6, "MB")
    for absent, label in ((False, "present"), (True, "absent")):
        b = [s["attrs"]["bytes_read"] / 1024 for s in idx.named("core.file.lookup")
             if s["attrs"]["absent"] == absent]
        m[f"core.file.lookup.bytes_read_kb.{label}"] = (median(b), "KB")
    enc = idx.named("core.columns.encodings")
    enc = enc[-1]["attrs"] if enc else {}
    for c in STRING_COLUMNS:
        for cls in ("dictionary", "direct", "fsst"):
            m[f"core.columns.encoding.{c}.{cls}"] = (enc.get(f"{c}.{cls}", 0), "stripes")
    f = idx.named("core.fsst.encode")
    m["core.fsst.ratio"] = (f[-1]["attrs"]["raw_bytes"] / f[-1]["attrs"]["encoded_bytes"]
                            if f else None, "x")
    c = idx.named("core.compress.compress")
    m["core.compress.ratio"] = (c[-1]["attrs"]["raw_bytes"] / c[-1]["attrs"]["compressed_bytes"]
                                if c else None, "x")
    table = idx.named("core.file.bytes_table")
    table = table[-1]["attrs"] if table else {}
    for k in BYTES_STREAMS + ("index", "tail"):
        m[f"bytes.{k}"] = (table.get(k, 0), "B")
    return m


def per_layer(spans, ops, facts, better):
    """Per-layer metrics of the traced phase, plus `trace.overhead.<metric>`
    for each end-to-end metric but `setup_s`: the cost of tracing as a
    fraction, positive when tracing made the metric worse. `better` maps
    each end-to-end metric to "higher" or "lower", as BENCHMARK.json
    declares it."""
    idx = SpanIndex(spans)
    untraced = [o for o in ops if o["phase"] == "untraced"]
    traced = [o for o in ops if o["phase"] == "traced" and o["kind"] != "replay"]
    m = spark_layer(idx, traced)
    m.update(core_layer(idx))
    base, with_trace = headline(untraced, facts), headline(traced, facts)
    for name, (v, _, _) in base.items():
        t = with_trace[name][0]
        cost = v / t - 1 if better[name] == "higher" else t / v - 1
        m[f"trace.overhead.{name}"] = (cost, "fraction")
    return m
