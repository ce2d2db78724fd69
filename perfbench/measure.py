"""Pure parts of the benchmark: percentiles, digests, residue accounting and
the metrics computed from one harness record. No I/O beyond walking the
directories handed to the residue helpers."""
import hashlib
import os
import statistics

MIB = 1024 * 1024
TAIL_PERCENTILES = (99.9, 99, 95, 90, 75, 50)


def percentile(values, p):
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(values, min_beyond=10):
    """The highest percentile of TAIL_PERCENTILES with at least `min_beyond`
    samples strictly above it: (percentile, value, samples beyond). With too
    few samples for any of them it falls back to the median."""
    for p in TAIL_PERCENTILES:
        v = percentile(values, p)
        beyond = sum(1 for x in values if x > v)
        if beyond >= min_beyond:
            return p, v, beyond
    v = percentile(values, 50)
    return 50, v, sum(1 for x in values if x > v)


# ----------------------------------------------------------------- digests

def _cell(v):
    """Cell rendering of tools/check.py, so golden digests from the DuckDB
    oracle and digests of the program's results agree."""
    if isinstance(v, float):
        return f"{v:.9g}"
    if isinstance(v, (list, tuple)) or str(type(v)).endswith("ndarray'>"):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def normalize(df):
    """tools/check.py's normalization: columns by name, cells as strings,
    rows sorted. `df` is a pandas DataFrame."""
    df = df.reindex(sorted(df.columns), axis=1)
    out = df.apply(lambda c: c.map(_cell))
    if len(out.columns):
        out = out.sort_values(by=list(out.columns), kind="mergesort")
    return out.reset_index(drop=True)


def digest(df):
    """Order-independent digest: row count plus a hash of the normalized,
    sorted rows and of the column names."""
    n = normalize(df)
    h = hashlib.sha256("\x01".join(n.columns).encode())
    for row in n.itertuples(index=False):
        h.update(b"\n" + "\x01".join(row).encode())
    return f"{len(n)}:{h.hexdigest()}"


# ----------------------------------------------------------------- residue

def snapshot(roots):
    """{file path: size} under each existing root directory."""
    files = {}
    for root in roots:
        for d, _, names in os.walk(root):
            for n in names:
                p = os.path.join(d, n)
                try:
                    files[p] = os.lstat(p).st_size
                except FileNotFoundError:
                    pass
    return files


def residue(before, after):
    """Files a run added or grew: {path: bytes added}."""
    return {p: s - before.get(p, 0) for p, s in after.items()
            if p not in before or s > before[p]}


def residue_metrics(left, ckpt_roots, tmp_roots):
    """fs.* metrics and residue_mib from the files a run left behind."""
    def under(p, roots):
        return any(p.startswith(r.rstrip("/") + "/") for r in roots)
    ckpt = {p: s for p, s in left.items() if under(p, ckpt_roots)}
    tmp = {p: s for p, s in left.items() if under(p, tmp_roots) and p not in ckpt}
    # a checkpoint dir is one child of a checkpoint root
    dirs = set()
    for p in ckpt:
        for r in ckpt_roots:
            r = r.rstrip("/") + "/"
            if p.startswith(r):
                dirs.add(r + p[len(r):].split("/", 1)[0])
    return {
        "fs.ckpt_dirs_left": len(dirs),
        "fs.ckpt_mib_left": sum(ckpt.values()) / MIB,
        "fs.tmp_mib_left": sum(tmp.values()) / MIB,
        "residue_mib": (sum(ckpt.values()) + sum(tmp.values())) / MIB,
    }


# ----------------------------------------------------------------- metrics

def _wall(e):
    return (e["t1"] - e["t0"]) / 1e3


def _union_ms(intervals, lo, hi):
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, end = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if a < end:
            a = end
        if b > a:
            total += b - a
            end = b
    return total


def end_to_end(h):
    """End-to-end timings from the untraced timed passes of one record, each
    with its sample count. Batch metrics appear only when the passes ran
    micro-batches."""
    passes = [p for p in h["passes"] if not p["traced"]]
    walls = [p["wall_s"] for p in passes]
    execs = [e for p in passes for e in p["execs"] if e["ok"]]
    qs = [_wall(e) for e in execs]
    m = {"pass_s": (statistics.median(walls), "s", len(walls)),
         "query_p50_s": (statistics.median(qs), "s", len(qs))}
    p, v, beyond = tail(qs)
    m["query_tail_s"] = (v, "s", len(qs), p, beyond)
    batches = [b[0] for e in execs for b in e["batches"]]
    if batches:
        m["batch_p50_ms"] = (statistics.median(batches), "ms", len(batches))
        p, v, beyond = tail(batches)
        m["batch_tail_ms"] = (v, "ms", len(batches), p, beyond)
    return m


def per_layer(h):
    """Per-layer metrics from the traced passes of a traced record, as
    per-pass means (counts, busy time) or per-batch medians (batch phases)."""
    traced = [p for p in h["passes"] if p["traced"]]
    plain = [p for p in h["passes"] if not p["traced"]]
    n = len(traced)
    execs = [e for p in traced for e in p["execs"]]
    wall = sum(p["wall_s"] for p in traced)
    cores = h["cores"]

    def per_pass(f):
        return sum(f(e) for e in execs) / n

    def phase(k):
        return per_pass(lambda e: e["phases"].get(k, 0)) / 1e3

    m = {
        "build.s": per_pass(lambda e: (e["t_built"] - e["t0"]) / 1e3),
        "catalyst.analysis_s": phase("analysis"),
        "catalyst.optimization_s": phase("optimization"),
        "catalyst.planning_s": phase("planning"),
        "exec.jobs": per_pass(lambda e: len(e["jobs"])),
        "exec.stages": per_pass(lambda e: e["stages"]),
        "exec.tasks": per_pass(lambda e: e["tasks"]),
        "exec.task_s": per_pass(lambda e: e["task_ms"]) / 1e3,
        "exec.cpu_s": per_pass(lambda e: e["cpu_ns"]) / 1e9,
        "exec.gc_s": per_pass(lambda e: e["gc_ms"]) / 1e3,
        "exec.shuffle_read_mib": per_pass(lambda e: e["shuffle_read"]) / MIB,
        "exec.shuffle_write_mib": per_pass(lambda e: e["shuffle_write"]) / MIB,
        "exec.spill_mib": per_pass(lambda e: e["spill"]) / MIB,
    }
    m["exec.core_busy_share"] = sum(e["task_ms"] for e in execs) / 1e3 / (wall * cores)

    batches = [b for e in execs for b in e["batches"]]

    def batch_median(i):
        return statistics.median(b[i] for b in batches) if batches else 0.0

    m.update({
        "stream.batches": len(batches) / n,
        "stream.empty_batches": sum(1 for b in batches if b[5] == 0) / n,
        "stream.input_rows": sum(b[5] for b in batches) / n,
        "stream.add_batch_ms": batch_median(1),
        "stream.wal_commit_ms": batch_median(2),
        "stream.commit_offsets_ms": batch_median(3),
        "stream.query_planning_ms": batch_median(4),
        # state rows and memory a query holds at its last batch, per pass
        "stream.state_rows": per_pass(lambda e: e["batches"][-1][6] if e["batches"] else 0),
        "stream.state_mem_mib": per_pass(lambda e: e["batches"][-1][7] if e["batches"] else 0) / MIB,
        "stream.state_commit_ms": batch_median(8),
    })

    # wall time the layers leave unattributed: pass wall minus the plan
    # build, the action's optimization and planning, and the action's job
    # wall time (union of job intervals after the build)
    def attributed(e):
        jobs = _union_ms(e["jobs"], e["t_built"], e["t1"])
        return ((e["t_built"] - e["t0"]) + jobs
                + e["phases"].get("optimization", 0) + e["phases"].get("planning", 0)) / 1e3
    m["trace.unattributed_s"] = max(0.0, (wall - sum(attributed(e) for e in execs)) / n)
    m["trace.overhead_s"] = (statistics.median(p["wall_s"] for p in traced)
                             - statistics.median(p["wall_s"] for p in plain))
    return m
