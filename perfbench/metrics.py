"""Turns the raw records of one run (`result.json`) into the benchmark's metrics.

Pure functions only, so that `test_metrics.py` can check them on hand-made
records. Vocabulary:

- a *span* is one call the benchmark made into a layer, named
  `<layer>.<call>`; the outermost span of a call chain is an *op*, and every
  span of an op carries the op's id;
- a *job* is a Spark job; the benchmark tags each with the job group
  `pb:<span id>` of the span that started it;
- a *qe* is one query execution with its planning phases; it belongs to the
  innermost span open when its planning started (the client is one thread);
- a *unit* is what one end-to-end sample measures: a warm pass over the
  queries (`ops`) or one serve request (`store_online`).
"""
import math
import statistics
from collections import defaultdict

LADDER = (50, 75, 90, 95, 99, 99.9, 99.99)
PHASES = ("analysis", "optimization", "planning")
MB = 1024.0 * 1024.0


def rank(n, p):
    """1-based nearest rank of the p-th percentile of n samples (rounded first,
    so that 99.9% of 10000 is 9990 and not 9991)."""
    return max(1, math.ceil(round(p * n / 100.0, 6)))


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with p% of values at or below it."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no values")
    return s[rank(len(s), p) - 1]


def samples_beyond(n, p):
    """How many of n samples lie above the nearest-rank p-th percentile."""
    return n - rank(n, p)


def tail_percentile(n, min_beyond=10):
    """Highest percentile in LADDER with at least `min_beyond` samples beyond it."""
    ok = [p for p in LADDER if samples_beyond(n, p) >= min_beyond]
    return ok[-1] if ok else None


def median(values, default=0.0):
    values = list(values)
    return statistics.median(values) if values else default


def mean(values, default=0.0):
    values = list(values)
    return sum(values) / len(values) if values else default


def covered_ns(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, end = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def layer(name):
    return name.split(".", 1)[0] if "." in name else "bench"


class Trace:
    """Spans, jobs, stages and planning phases of one run, joined."""

    def __init__(self, rec):
        self.spans = {s["id"]: s for s in rec.get("spans", [])}
        self.children = defaultdict(list)
        for s in self.spans.values():
            if s["parent"] >= 0:
                self.children[s["parent"]].append(s["id"])
        self.jobs = defaultdict(list)  # span id -> jobs it started itself
        for j in rec.get("jobs", []):
            g = j.get("group") or ""
            if g.startswith("pb:") and int(g[3:]) in self.spans:
                self.jobs[int(g[3:])].append(j)
        self.phases = {}  # span id -> planning ms by phase
        for q in rec.get("qes", []):
            if not q["phases"]:
                continue
            sid = self.innermost(min(a for a, _ in q["phases"].values()))
            if sid is not None:
                acc = self.phases.setdefault(sid, dict.fromkeys(PHASES, 0.0))
                for ph in PHASES:
                    a, b = q["phases"].get(ph, (0, 0))
                    acc[ph] += b - a
        self.stages = defaultdict(list)  # stage id -> attempts
        for st in rec.get("stages", []):
            self.stages[st["id"]].append(st)

    def innermost(self, wall_ms):
        """Id of the innermost span open at wall-clock `wall_ms`, or None."""
        best = None
        for s in self.spans.values():
            if s["w0"] <= wall_ms <= s["w1"] and (
                    best is None or (s["w0"], s["id"]) > (best["w0"], best["id"])):
                best = s
        return None if best is None else best["id"]

    def ms(self, sid):
        s = self.spans[sid]
        return (s["t1"] - s["t0"]) / 1e6

    def subtree(self, sid):
        out, todo = [], [sid]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(self.children[x])
        return out

    def ops(self, name, **attrs):
        """Root spans (ops) with this name whose attrs include `attrs`."""
        return [s["id"] for s in self.spans.values()
                if s["parent"] < 0 and s["name"] == name
                and all(s["attrs"].get(k) == v for k, v in attrs.items())]

    def named(self, name, ok_only=True):
        """Spans with this name, anywhere, that belong to ops that did not fail."""
        return [s["id"] for s in self.spans.values() if s["name"] == name
                and not (ok_only and self.spans[s["op"]].get("error"))]

    def planning_ms(self, sid):
        return sum(self.phases[sid].values()) if sid in self.phases else 0.0

    def self_ms(self, sid):
        """Span time not covered by child spans or by planning of its own queries."""
        s = self.spans[sid]
        kids = [(self.spans[c]["t0"], self.spans[c]["t1"]) for c in self.children[sid]]
        own = s["t1"] - s["t0"] - covered_ns(kids, s["t0"], s["t1"])
        return max(0.0, own / 1e6 - self.planning_ms(sid))

    def job_count(self, sids):
        return sum(len(self.jobs[x]) for x in sids)

    def stage_records(self, sids):
        seen, out = set(), []
        for x in sids:
            for j in self.jobs[x]:
                for st in j["stages"]:
                    if st not in seen:
                        seen.add(st)
                        out.extend(self.stages.get(st, []))
        return out


def task_skew(stages):
    """Max over stages of max/median task time (1.0 for single-task stages)."""
    ratios = [max(t) / statistics.median(t) for t in
              (st.get("task_ms") or [] for st in stages) if t and statistics.median(t) > 0]
    return max(ratios) if ratios else 0.0


def units(tr, workload):
    """Lists of op ids, one list per unit of the workload."""
    if workload == "ops":
        passes = defaultdict(list)
        for sid in tr.ops("query", phase="warm"):
            if not tr.spans[sid].get("error"):
                passes[tr.spans[sid]["attrs"]["pass"]].append(sid)
        return [passes[p] for p in sorted(passes)]
    return [[sid] for sid in tr.ops("store.serve", phase="timed")
            if not tr.spans[sid].get("error")]


LAYERS = ("sources", "queries", "plans", "exec", "extract", "quality", "store")


def layer_metrics(rec, workload):
    """Per-layer metrics of one traced run; 0 where the workload never
    enters the layer.

    Unit-based metrics (sources on `ops`, queries, plans, exec, self.*) are
    medians over units of the per-unit sum, or means for counts. Metrics of
    one kind of call (extract, quality, store, and sources on
    `store_online`) are medians over those calls, or means for counts.
    """
    tr = Trace(rec)
    groups = [[x for op in u for x in tr.subtree(op)] for u in units(tr, workload)]

    def per_unit(fn, agg=median):
        return agg([fn(g) for g in groups])

    def spans_in(g, name):
        return [x for x in g if tr.spans[x]["name"] == name]

    def total_s(g, name):
        return sum(tr.ms(x) for x in spans_in(g, name)) / 1e3

    def stages_of(g, name):
        return tr.stage_records(spans_in(g, name))

    def call_s(name):
        return median(tr.ms(x) / 1e3 for x in tr.named(name))

    def call_jobs(name, sids=None):
        return mean(len(tr.jobs[x]) for x in (tr.named(name) if sids is None else sids))

    m = {}
    if workload == "ops":
        m["sources.read_ms"] = per_unit(lambda g: total_s(g, "sources.read") * 1e3)
        m["sources.read_jobs"] = per_unit(
            lambda g: tr.job_count(spans_in(g, "sources.read")), mean)
    else:
        m["sources.read_ms"] = call_s("sources.read") * 1e3
        m["sources.read_jobs"] = call_jobs("sources.read")
    m["queries.build_s"] = per_unit(lambda g: total_s(g, "queries.build"))
    m["queries.build_jobs"] = per_unit(lambda g: tr.job_count(spans_in(g, "queries.build")), mean)
    for ph in PHASES:
        m[f"plans.{ph}_ms"] = per_unit(
            lambda g: sum(tr.phases[x][ph] for x in g if x in tr.phases))
    m["exec.s"] = per_unit(lambda g: total_s(g, "exec.run"))
    m["exec.jobs"] = per_unit(lambda g: tr.job_count(spans_in(g, "exec.run")), mean)
    m["exec.stages"] = per_unit(lambda g: len(stages_of(g, "exec.run")), mean)
    for key, field in (("shuffle_read_mb", "shuffle_read_b"),
                       ("shuffle_write_mb", "shuffle_write_b"), ("spill_mb", "spill_b")):
        m[f"exec.{key}"] = per_unit(
            lambda g: sum(st[field] for st in stages_of(g, "exec.run")) / MB)
    m["exec.gc_ms"] = per_unit(lambda g: sum(st["gc_ms"] for st in stages_of(g, "exec.run")))
    m["exec.task_skew"] = per_unit(lambda g: task_skew(stages_of(g, "exec.run")))

    m["extract.run_s"] = call_s("extract.run")
    m["quality.validate_s"] = call_s("quality.validate")
    m["quality.validate_jobs"] = call_jobs("quality.validate")
    m["store.fingerprint_s"] = call_s("store.fingerprint")
    m["store.register_jobs"] = call_jobs("store.register")
    serves = [u[0] for u in units(tr, workload)] if workload == "store_online" else []
    m["store.serve_jobs"] = call_jobs("store.serve", serves)
    m["store.serve_miss_ms"] = median(tr.ms(x) for x in serves if tr.jobs[x])
    m["store.serve_hit_ms"] = median(tr.ms(x) for x in serves if not tr.jobs[x])
    dash = rec.get("dashboard") or {}
    looked = dash.get("cache_hits", 0) + dash.get("cache_misses", 0)
    m["store.cache_hit_ratio"] = dash["cache_hits"] / looked if looked else 0.0
    m["store.latest_ms"] = call_s("store.latest") * 1e3
    m["store.train_read_jobs"] = call_jobs("store.get")
    m["store.asof_jobs"] = call_jobs("store.asof")
    m["jvm.jit_ms"] = float(rec.get("jit_ms", 0))
    m["jvm.gc_ms"] = float(rec.get("gc_ms", 0))
    for lay in LAYERS:
        if lay == "plans":
            m["self.plans_ms"] = per_unit(lambda g: sum(tr.planning_ms(x) for x in g))
        else:
            m[f"self.{lay}_ms"] = per_unit(lambda g: sum(
                tr.self_ms(x) for x in g if layer(tr.spans[x]["name"]) == lay))
    return m


def timed_ops(rec):
    """Root spans of the timed phase: (ok ops, failed ops)."""
    roots = [s for s in rec["spans"] if s["parent"] < 0
             and s["attrs"].get("phase") in ("timed", "cold", "warm")]
    return ([s for s in roots if not s.get("error")],
            [s for s in roots if s.get("error")])


def end_to_end(rec, workload, tail_p):
    """End-to-end metrics of one run, the same set for every workload.

    The timed ops are serve calls (`store_online`) or warm query runs, each
    a build plus an execution (`ops`). `cold_s` is the workload's first work
    in the fresh JVM: the first set-up (extract and register) on
    `store_online`, the cold pass over the queries on `ops`.
    """
    tr = Trace(rec)
    if workload == "store_online":
        lat = [tr.ms(u[0]) for u in units(tr, workload)]
        cold = rec["setup_s"][0]
    else:
        lat = [op_seconds(tr, sid) * 1e3 for u in units(tr, workload) for sid in u]
        cold = sum(query_seconds(tr)[0].values())
    return {
        "setup_s": median(rec["setup_s"]),
        "cold_s": cold,
        "p50_ms": percentile(lat, 50),
        f"p{tail_p:g}_ms": percentile(lat, tail_p),
        "retained_heap_mb": rec["heap_mb"],
    }


def op_seconds(tr, sid):
    """Seconds of a query op's build and execution (never the traced
    standalone reads)."""
    return sum(tr.ms(x) for x in tr.children[sid]
               if tr.spans[x]["name"] in ("queries.build", "exec.run")) / 1e3


def query_seconds(tr):
    """Per query: cold-pass seconds, and the median of its warm passes."""
    cold = {tr.spans[x]["attrs"]["query"]: op_seconds(tr, x)
            for x in tr.ops("query", phase="cold") if not tr.spans[x].get("error")}
    warm = defaultdict(list)
    for u in units(tr, "ops"):
        for sid in u:
            warm[tr.spans[sid]["attrs"]["query"]].append(op_seconds(tr, sid))
    return cold, {q: statistics.median(v) for q, v in warm.items()}
