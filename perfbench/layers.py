"""Per-layer metrics from a traced run's raw spans and engine events.

Terms (see README.md):
  driver time     span time during which no Spark job was running
  task_overhead   sum over tasks of (task duration - executorRunTime)
  core_busy       sum of executorRunTime / (span wall time x cores)
A job belongs to a span when it started inside it; a planning record (stamped
with its planning start) or a streaming progress record (stamped with its
trigger start) belongs to a span when its time stamp falls in it.
"""
from stats import driver_time, median

MB = 1024.0 * 1024.0
PHASES = ("training_pipeline", "feature_refresh", "analytics_mix")
GRAPH = {"q149": "q149_copurchase_pagerank", "q150": "q150_copurchase_components"}
STREAM = {"q144": "q144_stream_scd2"}
SIM = {"q165": "q165_ivf_delete"}


class Trace:
    def __init__(self, raw, cores):
        self.cores = cores
        self.spans = raw["spans"]
        self.jobs = [j for j in raw["jobs"] if j["end"] >= 0]
        self.queries = raw["queries"]
        self.progress = raw["progress"]

    def named(self, name):
        return [s for s in self.spans if s["name"] == name]

    def jobs_in(self, s):
        return [j for j in self.jobs if s["start_us"] <= j["start"] * 1000 <= s["end_us"]]

    def queries_in(self, s):
        return [q for q in self.queries if s["start_us"] <= q["ts"] * 1000 <= s["end_us"]]

    def progress_in(self, s):
        return [p for p in self.progress if s["start_us"] <= p["ts"] * 1000 <= s["end_us"]]

    def wall_s(self, s):
        return (s["end_us"] - s["start_us"]) / 1e6

    def driver_s(self, s):
        jobs = [(j["start"] * 1000, j["end"] * 1000) for j in self.jobs]
        return driver_time(s["start_us"], s["end_us"], jobs) / 1e6

    def job_wall_s(self, s):
        return self.wall_s(s) - self.driver_s(s)

    def engine(self, s):
        """Spark-engine totals of one span."""
        js = self.jobs_in(s)
        tot = lambda k: sum(j[k] for j in js)
        wall = self.wall_s(s)
        return {
            "plan_ms": sum(q["plan_ms"] for q in self.queries_in(s)),
            "jobs": len(js), "stages": tot("stages"), "tasks": tot("tasks"),
            "task_run_s": tot("run_ms") / 1e3, "task_cpu_s": tot("cpu_ns") / 1e9,
            "gc_s": tot("gc_ms") / 1e3, "task_overhead_s": (tot("dur_ms") - tot("run_ms")) / 1e3,
            "shuffle_write_mb": tot("shuffle_write") / MB, "shuffle_read_mb": tot("shuffle_read") / MB,
            "spill_mb": tot("spill") / MB, "input_mb": tot("input") / MB,
            "input_bytes": tot("input"), "driver_s": self.driver_s(s),
            "core_busy": tot("run_ms") / 1e3 / (wall * self.cores) if wall > 0 else 0.0,
            "files": sum(q["files"] for q in self.queries_in(s)),
            "bytes_written": sum(q["bytes"] for q in self.queries_in(s)),
        }

    def mean_engine(self, name, key):
        spans = self.named(name)
        return sum(self.engine(s)[key] for s in spans) / len(spans) if spans else None


def per_layer(raw, cores, samples, facts):
    t = Trace(raw, cores)
    m = {}

    # graft.fs write and read path (feature_refresh).
    writes = t.named("fs.write")
    m["fs.write.jobs"] = t.mean_engine("fs.write", "jobs")
    m["fs.write.job_ms"] = 1e3 * sum(t.job_wall_s(s) for s in writes) / max(1, len(writes))
    m["fs.write.driver_ms"] = 1e3 * sum(t.driver_s(s) for s in writes) / max(1, len(writes))
    m["fs.write.files_written"] = t.mean_engine("fs.write", "files")
    live_bytes, live_rows = facts.get("live_table_bytes"), facts.get("live_rows")
    user_rows = sum(samples.get("write_user_rows", []))
    if live_bytes and live_rows and user_rows:
        m["fs.write.bytes_per_user_byte"] = (sum(t.engine(s)["bytes_written"] for s in writes)
                                             / (user_rows * live_bytes / live_rows))
    firsts = t.named("fs.point_index.first_lookup")
    m["fs.point_index.rebuild_ms"] = median([1e3 * t.wall_s(s) for s in firsts])
    lookups = firsts + t.named("fs.lookup_one")
    m["fs.point_index.rebuilds_per_lookup"] = (
        sum(1 for s in lookups if t.jobs_in(s)) / len(lookups) if lookups else None)
    scans = t.named("fs.scan_read")
    m["fs.scan_read_ms"] = median([1e3 * t.wall_s(s) for s in scans])
    m["fs.scan_read.bytes_read"] = t.mean_engine("fs.scan_read", "input_bytes")

    # graft.fs and graft.ops.AsOfJoin lookups (training_pipeline).
    m["fs.create_table_s"] = sum(t.wall_s(s) for s in t.named("fs.create_table"))
    m["fs.trainset.shuffle_mb"] = t.mean_engine("fs.trainset", "shuffle_write_mb")
    m["fs.trainset.broadcast_joins"] = median(samples.get("fs.trainset.broadcast_joins", []))
    m["ops.asof.s"] = median([t.wall_s(s) for s in t.named("ops.asof")])
    m["ops.asof.shuffle_mb"] = t.mean_engine("ops.asof", "shuffle_write_mb")

    # graft.ml train and batch.
    m["ml.split_s"] = median([t.wall_s(s) for s in t.named("ml.split")])
    m["ml.fit.jobs"] = t.mean_engine("ml.fit", "jobs")
    m["ml.fit.task_cpu_s"] = t.mean_engine("ml.fit", "task_cpu_s")
    m["ml.fit.task_overhead_s"] = t.mean_engine("ml.fit", "task_overhead_s")
    m["ml.fit.gc_s"] = t.mean_engine("ml.fit", "gc_s")
    m["ml.fit.driver_s"] = t.mean_engine("ml.fit", "driver_s")
    m["ml.score_batch.plan_ms"] = t.mean_engine("ml.score_batch", "plan_ms")

    # graft.ml single row.
    m["ml.score_one.plan_ms"] = t.mean_engine("ml.score_one", "plan_ms")
    m["ml.score_one.jobs"] = t.mean_engine("ml.score_one", "jobs")
    one = t.named("ml.score_one")
    m["ml.score_one.driver_ms"] = 1e3 * sum(t.driver_s(s) for s in one) / max(1, len(one))

    # Per-query layers (analytics_mix): means over passes.
    for short, q in GRAPH.items():
        for k in ("jobs", "tasks", "task_cpu_s", "driver_s", "core_busy"):
            m[f"graph.{short}.{k}"] = t.mean_engine(f"q.{q}", k)
        m[f"graph.{short}.shuffle_mb"] = t.mean_engine(f"q.{q}", "shuffle_write_mb")
    for short, q in STREAM.items():
        spans = t.named(f"q.{q}")
        prog = [p for s in spans for p in t.progress_in(s)]
        n = max(1, len(spans))
        m[f"streaming.{short}.batches"] = len(prog) / n
        m[f"streaming.{short}.empty_batches"] = sum(1 for p in prog if p["rows"] == 0) / n
        for k in ("trigger_ms", "add_batch_ms", "planning_ms", "commit_ms"):
            m[f"streaming.{short}.{k}"] = sum(p[k] for p in prog) / n
        m[f"streaming.{short}.state_rows"] = max([p["state_rows"] for p in prog], default=0)
        m[f"streaming.{short}.driver_ms"] = 1e3 * sum(t.driver_s(s) for s in spans) / n
    for short, q in SIM.items():
        for k in ("jobs", "task_cpu_s", "driver_s"):
            m[f"sim.{short}.{k}"] = t.mean_engine(f"q.{q}", k)
        m[f"sim.{short}.files_written"] = t.mean_engine(f"q.{q}", "files")

    # Spark engine, per phase of the measured loop, per iteration of it.
    keys = ("plan_ms", "jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
            "task_overhead_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "input_mb",
            "driver_s", "core_busy")
    for p in PHASES:
        iters = facts.get(f"{p}.iterations") or 1
        for k in keys:
            v = t.mean_engine(f"phase.{p}", k)
            m[f"spark.{p}.{k}"] = v if v is None or k == "core_busy" else v / iters
    return m
