#!/usr/bin/env python3
"""graft's layered benchmark: one run of one workload, oracle-checked.

Usage (from the repository root):

    python3 perfbench/run.py --workload bi_sf01 --seed 1 --seconds 10 --trace 0

Workloads: bi_sf01, llm_x1 (see perfbench/README.md).

The first run in a checkout compiles the library and the harness with sbt
(perfbench/build.sbt); later runs reuse the build while the sources are
unchanged. Every run starts from a fresh warehouse and temp dir under
.bench_build/run, runs the workload in one JVM, then checks every checked
op's output against DuckDB running the key's `SparkEntry.oracleSql` over the
same input tables, with tools/check.py's comparator: columns sorted by name,
rows lexsorted, values compared by repr.

Prints one detail line (inputs, effective confs, every end-to-end metric
with its unit, failing ops by name), then, as the last line, the result
object: with --trace 0 the gated end-to-end metrics, with --trace 1 the
per-layer metrics of a traced run (spans go to .bench_build/trace/).
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
STATE = ROOT / ".bench_build"
WORKLOADS = ("bi_sf01", "llm_x1")
EXPECTED = HERE / "expected.json"
# the workload JVM may take --seconds plus this long: set-up, the warm-up,
# the last pass's overrun and a traced run's replays, kernels and canaries.
# On 4 cores the slowest traced run measured (bi_sf01) took 104 s in all.
JVM_ALLOWANCE_S = 150

# (name, unit) of the end-to-end metrics BENCHMARK.json gates; every workload
# reports them
GATED = [("setup_s", "s"), ("wall_s", "s"), ("op_p90_s", "s")]
# printed on the detail line only
SPECIFIC = {"op_p50_s": "s", "peak_rss_mb": "MiB", "docs_per_s": "1/s",
            "commit_p50_s": "s", "probe_p50_s": "s", "probe_p90_s": "s",
            "store_bytes_per_input_byte": "ratio"}

# keys with no DuckDB oracle (sketch outputs are not cross-engine):
# checked by row count against these queries
ROWS_ORACLE = {
    "g14_sketch_distinct": "SELECT 1",
    "g14b_sketch_percentiles": "SELECT DISTINCT o_orderstatus FROM orders",
}


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def tree_hash(paths):
    h = hashlib.sha256()
    for p in paths:
        files = sorted(f for f in p.rglob("*") if f.is_file()) if p.is_dir() else [p]
        for f in files:
            h.update(str(f).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt unless the sources match the last build."""
    srcs = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
            ROOT / "src" / "main", HERE / "build.sbt",
            HERE / "project" / "build.properties", HERE / "src"]
    stamp = tree_hash(srcs) + str(ROOT)
    launcher = STATE / "launcher.txt"
    stamp_file = STATE / "launcher.stamp"
    if launcher.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return launcher.read_text().splitlines()
    STATE.mkdir(exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true")
    log = STATE / "build.log"
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLauncher"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           timeout=800)
    if r.returncode != 0:
        fail(f"build failed (see {log})")
    shutil.copy(HERE / "target" / "launcher.txt", launcher)
    stamp_file.write_text(stamp)
    return launcher.read_text().splitlines()


def sf01_dir():
    """The sf0.1 tables graft.Bench reads by default (or SPARK_GRAFT_SF_DIR)."""
    if os.environ.get("SPARK_GRAFT_SF_DIR"):
        return Path(os.environ["SPARK_GRAFT_SF_DIR"])
    bench = (ROOT / "src/main/scala/graft/Bench.scala").read_text()
    m = re.search(r'getOrElse\("SPARK_GRAFT_SF_DIR",\s*"([^"]+)"\)', bench)
    if not m:
        fail("cannot find graft.Bench's default sf dir; set SPARK_GRAFT_SF_DIR")
    return Path(m.group(1))


def run_jvm(launcher, args, run_dir, timeout):
    cp, opts = launcher[0], launcher[1:]
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if os.environ.get("JAVA_HOME") else "java"
    log = run_dir / "jvm.log"
    launch_ns = time.time_ns()
    cmd = [str(java), *opts, "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           "-cp", cp, "graft.perfbench.Main", *args, str(launch_ns)]
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            fail(f"workload timed out after {timeout:.0f} s (see {log})")
        finally:
            # on a timeout, or when this script is interrupted or terminated
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if code != 0:
        tail = log.read_text(errors="replace").splitlines()[-15:]
        fail(f"workload JVM exited {code}:\n" + "\n".join(tail))


# ---- oracle ---------------------------------------------------------------

def parquet_glob(path):
    path = Path(path)
    return f"{path}/*.parquet" if path.is_dir() else str(path)


def canon(df):
    """tools/check.py's comparator: columns sorted by name, rows lexsorted."""
    df = df[sorted(df.columns)]
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def fingerprint(df):
    df = canon(df)
    cells = [tuple(repr(v) for v in row) for row in df.itertuples(index=False)]
    cols = [c.lower() for c in df.columns]
    h = hashlib.sha256(repr((cols, cells)).encode()).hexdigest()
    return {"columns": cols, "rows": len(cells), "sha": h}


class Oracle:
    """DuckDB over the run's input tables. Expected fingerprints are keyed
    by the inputs' content and the oracle SQL, and looked up in
    perfbench/expected.json (committed), then in .bench_build/oracle-cache,
    before DuckDB computes them; `record` also stores new ones in the
    committed file."""

    def __init__(self, input_dir, record=False):
        import duckdb
        self.con = duckdb.connect()
        self.record = record
        parts = []
        for t in sorted(Path(input_dir).glob("*.parquet")):
            self.con.sql(f"CREATE VIEW {t.stem} AS SELECT * FROM '{parquet_glob(t)}'")
            cols = [r[0] for r in self.con.sql(f"DESCRIBE {t.stem}").fetchall()]
            sums = ", ".join(f'sum(hash("{c}"))::VARCHAR' for c in cols)
            parts.append((t.stem, cols, self.con.sql(f"SELECT count(*), {sums} FROM {t.stem}").fetchall()))
        self.input_key = hashlib.sha256(repr(parts).encode()).hexdigest()
        self.committed = json.loads(EXPECTED.read_text()) if EXPECTED.exists() else {}
        self.cache = STATE / "oracle-cache"
        self.cache.mkdir(parents=True, exist_ok=True)

    def expected(self, sql):
        key = hashlib.sha256((self.input_key + sql).encode()).hexdigest()
        if key in self.committed and not self.record:
            return self.committed[key]
        f = self.cache / f"{key}.json"
        if f.exists():
            fp = json.loads(f.read_text())
        else:
            fp = fingerprint(self.con.sql(sql).df())
            f.write_text(json.dumps(fp))
        if self.record:
            self.committed[key] = fp
            EXPECTED.write_text(json.dumps(self.committed, indent=0, sort_keys=True) + "\n")
        return fp

    def actual(self, out):
        return self.con.sql(f"SELECT * FROM '{parquet_glob(out)}'").df()

    def check(self, op, oracle_sql):
        """None when the op's output matches, else why not."""
        key = op["oracle_key"]
        got = self.actual(op["out"])
        if op["check"] == "rows":
            if key not in ROWS_ORACLE:
                return "no row-count oracle"
            want = len(self.con.sql(ROWS_ORACLE[key]).df())
            return None if len(got) == want else f"rows spark={len(got)} oracle={want}"
        if key not in oracle_sql:
            return "no oracleSql entry"
        want = self.expected(oracle_sql[key])
        have = fingerprint(got)
        if have["columns"] != want["columns"]:
            return f"columns spark={have['columns']} oracle={want['columns']}"
        if have["sha"] != want["sha"]:
            return f"rows differ (spark={have['rows']} oracle={want['rows']})"
        return None


def input_stats(input_dir):
    import pyarrow.parquet as pq
    stats = {}
    for t in sorted(Path(input_dir).glob("*.parquet")):
        files = sorted(t.rglob("*.parquet")) if t.is_dir() else [t]
        stats[t.stem] = {"rows": sum(pq.ParquetFile(f).metadata.num_rows for f in files),
                         "bytes": sum(f.stat().st_size for f in files)}
    return stats


def layer_unit(name):
    if name.endswith("_rows_per_core_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb") or name.endswith("_mb_peak"):
        return "MiB"
    if name in ("spark.core_util", "sources.write_amp", "trace.overhead_frac"):
        return "ratio"
    return "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true",
                    help="compute every oracle with DuckDB and store its "
                         "fingerprint in perfbench/expected.json")
    a = ap.parse_args()
    # a terminated run still stops the JVM and sbt it started (see run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src/main/scala/graft").is_dir():
        fail(f"no graft sources at {ROOT}: run from a checkout of the repository", 2)
    launcher = build()

    run_dir = STATE / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("warehouse", "tmp", "local", "out"):
        (run_dir / d).mkdir(parents=True)
    input_dir = sf01_dir() if a.workload == "bi_sf01" else run_dir / "inputs"
    if a.workload == "bi_sf01" and not input_dir.is_dir():
        fail(f"sf0.1 tables not found at {input_dir}")

    run_jvm(launcher, [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                       str(run_dir), str(input_dir)], run_dir,
            timeout=a.seconds + JVM_ALLOWANCE_S)
    report = json.loads((run_dir / "report.json").read_text())

    oracle = Oracle(input_dir, record=a.record_expected)
    failures = {}
    failed = 0
    for op in report["ops"]:
        why = op["error"]
        if why is None and op["check"] in ("oracle", "rows"):
            try:
                why = oracle.check(op, report["oracle_sql"])
            except Exception as e:  # unreadable output or oracle error
                why = f"check raised {type(e).__name__}: {e}"
        if why is not None:
            failed += 1
            failures.setdefault(op["name"], why)
    attempted = len(report["ops"])

    metrics = dict(report["metrics"])
    metrics["failed_frac"] = failed / attempted
    detail = {
        "workload": a.workload, "seed": a.seed, "passes": report["passes"],
        "warm_up_s": report["warm_up_s"],
        "cores": report["cores"], "input_dir": str(input_dir),
        "inputs": {**report["inputs"], "tables": input_stats(input_dir)},
        "confs": report["confs"],
        "end_to_end": {k: {"value": v, "unit": dict(GATED).get(k) or SPECIFIC.get(k, "ratio")}
                       for k, v in metrics.items()},
        "failing_ops": failures,
        "op_seconds": [[op["name"], round(op["seconds"], 4)] for op in report["ops"]],
    }
    if a.trace:
        trace_dir = STATE / "trace"
        trace_dir.mkdir(exist_ok=True)
        spans = trace_dir / f"{a.workload}-seed{a.seed}.spans.jsonl"
        shutil.copy(run_dir / "spans.jsonl", spans)
        detail["spans"] = str(spans.relative_to(ROOT))
        out = {k: {"value": v, "unit": layer_unit(k)} for k, v in report["per_layer"].items()}
    else:
        out = {k: {"value": metrics[k], "unit": u} for k, u in GATED}
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
