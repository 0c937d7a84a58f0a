"""Turn one run's raw samples (and, for a traced run, its spans) into the
benchmark's metrics. Every timed sample counts: medians, never minima."""
import math
import statistics

# The tail percentile is fixed from the fewest samples an untraced run
# makes (steps x minimum timed passes), so that every run has at least
# TAIL_BEYOND samples above it, whatever number of passes fits in the run.
TAIL_BEYOND = 10
# A traced step's build + plan + exec spans must cover its wall time to
# within this share (the rest is span bookkeeping between phases).
ACCOUNT_TOLERANCE = 0.02
COUNTS = ("exec.jobs", "exec.stages", "exec.tasks", "operators.eager_jobs",
          "typed.validate_jobs", "plan.bhj", "plan.smj")
MIB = 1048576.0


def samples(passes, traced=False):
    return [s for p in passes for s in p["steps"] if s["traced"] == traced]


def pass_time(xs):
    """Sum over steps of each step's median wall time (failed samples skipped)."""
    by_step = {}
    for s in xs:
        if "error" not in s:
            by_step.setdefault(s["step"], []).append(s["wall_s"])
    return sum(statistics.median(v) for v in by_step.values())


def tail_percentile(raw):
    n = len(raw["warmup"][0]["order"]) * raw["min_timed_passes"]
    return max(0.0, 100.0 * (n - TAIL_BEYOND) / n)


def nearest_rank(values, pct):
    v = sorted(values)
    return v[max(0, math.ceil(pct / 100.0 * len(v)) - 1)]


def settle(passes):
    """Relative gap between the median pass time of the first and the last
    third of the timed passes (each pass timed as the sum of its steps)."""
    times = [sum(s["wall_s"] for s in samples([p])) for p in passes]
    k = max(1, len(times) // 3)
    first, last = statistics.median(times[:k]), statistics.median(times[-k:])
    return {"pass_times_s": times, "first_third_s": first, "last_third_s": last,
            "gap_frac": abs(last - first) / first}


def check_outputs(raw, expected):
    """Failed step samples: a throw, a wrong fingerprint, or a row count
    that differs from the fingerprinted one."""
    fps = raw["fingerprints"]
    bad_fp = {}
    for step, want in expected.items():
        got = fps.get(step)
        if got != want:
            bad_fp[step] = {"expected": want, "got": got}
    timed = [s for p in raw["passes"] for s in p["steps"]]
    failed = [s for s in timed
              if "error" in s or s["step"] in bad_fp or s.get("rows") != expected.get(s["step"], {}).get("rows")]
    return len(timed), failed, bad_fp


def end_to_end(raw):
    plain = samples(raw["passes"])
    walls = [s["wall_s"] for s in plain if "error" not in s]
    return {
        "pass_s": pass_time(plain),
        "step_p50_s": statistics.median(walls),
        "step_tail_s": nearest_rank(walls, tail_percentile(raw)),
        "cpu_s": statistics.median(p["cpu_s"] for p in raw["passes"]),
        "setup_s": raw["setup_s"],
    }


def _self_time(span, children):
    """Span duration minus the part of it that its children cover."""
    lo, hi = span["start_ms"], span["end_ms"]
    ivs = sorted((max(lo, c["start_ms"]), min(hi, c["end_ms"])) for c in children
                 if c["end_ms"] is not None)
    covered, cur_lo, cur_hi = 0.0, None, None
    for a, b in ivs:
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (hi - lo - covered) / 1e3


def _dur(s):
    return (s["end_ms"] - s["start_ms"]) / 1e3 if s["end_ms"] is not None else 0.0


def traced_pass(spans, prefix, task_threads):
    """Layer metrics of one traced pass (spans whose trace starts with prefix)."""
    mine = [s for s in spans if s["trace"].startswith(prefix)]
    kids = {}
    for s in mine:
        kids.setdefault(s["parent"], []).append(s)
    by_kind = {}
    for s in mine:
        by_kind.setdefault(s["kind"], []).append(s)
    phases = {"build", "plan", "exec"}

    def jobs_under(span):
        out = []
        for c in kids.get(span["id"], []):
            out += [c] if c["kind"] == "job" else jobs_under(c)
        return out

    m = {k: 0.0 for k in ("typed.build_s", "operators.build_s", "operators.eager_jobs",
                          "operators.index_write_s", "plan.plan_s", "plan.bhj", "plan.smj",
                          "exec.exec_s")}
    validate_s, validate_jobs, n_validate, unaccounted, wall = 0.0, 0, 0, 0.0, 0.0
    for step in by_kind.get("step", []):
        ph = {c["kind"]: c for c in kids.get(step["id"], []) if c["kind"] in phases}
        if set(ph) != phases:  # the step threw; check_outputs counts it failed
            continue
        # Build time splits into construction outside any job (typed layer,
        # operator code, analysis) and the eager jobs it fires.
        build_self = _self_time(ph["build"], jobs_under(ph["build"]))
        m["typed.build_s"] += build_self
        m["operators.build_s"] += _dur(ph["build"]) - build_self
        m["operators.eager_jobs"] += len(jobs_under(ph["build"]))
        m["plan.plan_s"] += _dur(ph["plan"])
        m["exec.exec_s"] += _dur(ph["exec"])
        m["plan.bhj"] += step["attrs"].get("bhj", 0)
        m["plan.smj"] += step["attrs"].get("smj", 0)
        d = _dur(step)
        wall += d
        unaccounted = max(unaccounted, abs(d - sum(_dur(p) for p in ph.values())) / d)
        if step["name"].startswith("validate_"):
            n_validate += 1
            validate_s += _dur(ph["exec"])
            validate_jobs += len(jobs_under(ph["exec"]))
    m["operators.index_write_s"] = sum(_dur(s) for s in by_kind.get("index_write", []))
    m["typed.validate_s"] = validate_s / n_validate if n_validate else 0.0
    m["typed.validate_jobs"] = validate_jobs / n_validate if n_validate else 0.0

    jobs, stages = by_kind.get("job", []), by_kind.get("stage", [])
    tot = lambda k: sum(s["attrs"][k] for s in stages)
    m.update({
        "exec.jobs": len(jobs),
        "exec.stages": len(stages),
        "exec.tasks": tot("tasks"),
        "exec.job_p50_s": statistics.median(_dur(j) for j in jobs) if jobs else 0.0,
        "exec.core_busy": tot("run_ms") / 1e3 / (wall * task_threads),
        "exec.task_cpu_s": tot("cpu_ns") / 1e9,
        "exec.gc_s": tot("gc_ms") / 1e3,
        "exec.shuffle_write_mb": tot("shuffle_write_b") / MIB,
        "exec.shuffle_read_mb": tot("shuffle_read_b") / MIB,
        "exec.spill_mb": tot("spill_b") / MIB,
        "exec.scan_mb": tot("input_b") / MIB,
        "trace.unaccounted_frac": unaccounted,
    })
    # Build and plan self times are typed.build_s and plan.plan_s.
    for kind in ("step", "exec", "job", "stage"):
        m[f"self.{kind}_s"] = sum(_self_time(s, kids.get(s["id"], [])) for s in by_kind.get(kind, []))
    return m


def per_layer(raw, spans):
    threads = raw["context"]["nproc"]
    per_pass = [traced_pass(spans, f"p{p['index']}/", threads) for p in raw["passes"]]
    m = {k: statistics.median(pp[k] for pp in per_pass) for k in per_pass[0]}
    m["trace.overhead_frac"] = (pass_time(samples(raw["passes"], traced=True))
                                / pass_time(samples(raw["passes"])) - 1)
    m["trace.unattributed_jobs"] = sum(1 for s in spans if s["kind"] == "job" and s["parent"] < 0)
    m["session.heap_peak_mb"] = raw["heap_peak_mb"]
    for k, v in raw["kernels_us"].items():
        m["kernels." + k] = v
    repeat = all(pp[c] == per_pass[0][c] for pp in per_pass for c in COUNTS)
    return m, repeat
