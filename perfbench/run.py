#!/usr/bin/env python3
"""The repo benchmark: one closed-loop, single-client workload per run.

Usage (from the repository root):
    python3 perfbench/run.py --workload {sweep,analytics}
        --seed N --seconds S --trace {0,1}

It builds the program and the harness from source on first use (sbt,
offline), generates the workload's inputs from the seed, runs the JVM
harness (perfbench.Main) on local[4], checks every operation's output
outside the timed window, and prints one JSON line last:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json,
with --trace 1 the per-layer ones (spans land in the work dir's
trace.jsonl). A failed check makes the exit code non-zero.
"""
import argparse
import datetime
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORK = "work"
HEAP = "3g"
DEADLINE_S = 160.0
SIZES = {
    "sweep": {"plan": {"rounds": 80, "per_round": 100, "evolve_at": 2}},
    "analytics": {"scale": 0.1},
}
EPOCH = datetime.datetime(1970, 1, 1)
ORACLE_TABLES = "region nation customer supplier part orders lineitem events".split()


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_stamp(root):
    """Digest of every file the build reads."""
    h = hashlib.sha256()
    roots = ["build.sbt", "project/build.properties", "src/main",
             "perfbench/build.sbt", "perfbench/project/build.properties",
             "perfbench/src"]
    for r in roots:
        p = os.path.join(root, r)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in paths:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout, and on
    SIGTERM or SIGINT to this process (both raise in the wait below)."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build(root):
    """Compile program + harness once per source state; return the class
    path and the program's JVM options (its build.sbt `javaOptions`)."""
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "classpath.txt")
    opts_file = os.path.join(target, "javaopts.txt")
    stamp_file = os.path.join(target, "source.stamp")
    stamp = source_stamp(root)

    def launch():
        with open(cp_file) as f, open(opts_file) as g:
            return f.read().strip(), g.read().split()

    if os.path.exists(stamp_file) and os.path.exists(opts_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return launch()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    log("building program and harness (sbt, offline)")
    t0 = time.time()
    with open(os.path.join(HERE, WORK, "build.log"), "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                       timeout=850, cwd=HERE, env=env, stdout=out,
                       stderr=subprocess.STDOUT)
    if rc != 0 or not os.path.exists(opts_file):
        fail(f"build failed (exit {rc}); see {WORK}/build.log")
    log(f"built in {time.time() - t0:.0f} s")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return launch()


# -- output checks against the DuckDB oracle ------------------------------

def _canon(v):
    if v is None:
        return None
    if isinstance(v, datetime.datetime):  # pandas Timestamps included
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return ("ts", (v - EPOCH) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return ("date", v.isoformat())
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return float(f"{v:.9g}") if v != 0.0 else 0.0
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    return v


def _rows(table):
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    return cols, sorted((tuple(_canon(col[i]) for col in data)
                         for i in range(table.num_rows)), key=repr)


def compare(got, want):
    """None when the two arrow tables hold the same rows, else why not."""
    gc, gr = _rows(got)
    wc, wr = _rows(want)
    if gc != wc:
        return f"columns {gc} != oracle {wc}"
    if len(gr) != len(wr):
        return f"{len(gr)} rows != oracle {len(wr)}"
    if gr != wr:
        diff = next((a, b) for a, b in zip(gr, wr) if a != b)
        return f"row differs from oracle: {str(diff)[:200]}"
    return None


class Oracle:
    def __init__(self, table_dir, sqls):
        import duckdb
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 4")
        for t in ORACLE_TABLES:
            p = os.path.join(table_dir, f"{t}.parquet")
            if os.path.exists(p):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        self.sqls, self.cache = sqls, {}

    def result(self, name):
        if name not in self.cache:
            self.cache[name] = self.con.execute(self.sqls[name]).arrow()
        return self.cache[name]


def check_analytics(res, in_dir, work):
    """Every op's row count, and the full rows of the sampled queries,
    against DuckDB running the query's oracle SQL on the same tables."""
    import pyarrow.parquet as pq
    oracle = Oracle(in_dir, res["oracle"])
    errs = {}
    for i, op in enumerate(res["ops"]):
        if op["rows"] >= 0 and op["rows"] != oracle.result(op["name"]).num_rows:
            errs[i] = (f"{op['name']}: count {op['rows']} != oracle "
                       f"{oracle.result(op['name']).num_rows}")
    extra = []
    for q in res["samples"]:
        e = compare(pq.read_table(os.path.join(work, "out", q)), oracle.result(q))
        if e:
            extra.append(f"{q}: {e}")
    return errs, extra


# -- the run --------------------------------------------------------------

def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail("the program's sources (build.sbt, src/main/scala) are not here; "
             "run from the repository root")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)

    wdir = os.path.join(HERE, WORK)
    os.makedirs(wdir, exist_ok=True)
    cp, java_opts = build(root)
    t_start = time.time()  # the one-off build is outside a run's deadline

    work = os.path.join(wdir, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    in_dir = os.path.join(work, "in")
    os.makedirs(in_dir)
    os.makedirs(os.path.join(work, "tmp"))
    t0 = time.perf_counter()
    gen.generate(args.workload, args.seed, in_dir, SIZES[args.workload])
    gen_s = time.perf_counter() - t0

    out = os.path.join(work, "result.json")
    # the fixed heap comes after the program's options, so it wins
    cmd = ["java", "-cp", cp, *java_opts, f"-Xms{HEAP}", f"-Xmx{HEAP}",
           "-XX:+UseG1GC", "-XX:+UnlockExperimentalVMOptions",
           "-XX:G1NewSizePercent=25", "-XX:G1MaxNewSizePercent=25",
           f"-Djava.io.tmpdir={work}/tmp",
           "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--in", in_dir, "--work", work, "--out", out]
    left = DEADLINE_S - (time.time() - t_start)
    with open(os.path.join(work, "jvm.log"), "w") as jlog:
        rc = run_group(cmd, timeout=left, stdout=jlog, stderr=subprocess.STDOUT)
    if rc != 0 or not os.path.exists(out):
        fail(f"harness exited with {rc}; see {os.path.relpath(work, root)}/jvm.log")
    with open(out) as f:
        res = json.load(f)

    ops = res["ops"]
    errs = {i: o["error"] for i, o in enumerate(ops) if o["error"]}
    extra = list(res["final_errors"])
    if args.workload == "analytics":
        try:
            e, x = check_analytics(res, in_dir, work)
            for i, msg in e.items():
                errs.setdefault(i, msg)
            extra += x
        except Exception as ex:  # the checker itself failing is a failed check
            extra.append(f"oracle check failed: {type(ex).__name__}: {ex}")
    for i, msg in sorted(errs.items()):
        log(f"op {i} ({ops[i]['name']}) wrong: {str(msg)[:300]}")
    for msg in extra:
        log(f"check failed: {str(msg)[:300]}")
    attempted = max(1, len(ops))
    failed = min(attempted, len(errs) + len(extra))

    values = dict(res["e2e"])
    values["setup_s"] = gen_s + statistics.median(res["setup_s"])
    values.update(res["layer"])
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0) or 0.0,
                           "unit": m["unit"]} for m in wanted}
    log(f"{args.workload} seed={args.seed}: {len(ops)} ops in "
        f"{res['window_s']:.1f} s, setups {[round(s, 2) for s in res['setup_s']]}, "
        f"gen {gen_s:.2f} s, host steal {res['steal_share']:.1%}, "
        f"wall {time.time() - t_start:.1f} s")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
