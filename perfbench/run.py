#!/usr/bin/env python3
"""perfbench: the landing-flow and gate-query benchmark.

    python3 perfbench/run.py --workload <land|gate_light>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and
the driver with sbt (offline) into .bench_build/; later runs reuse the
exported classpath while the sources are unchanged. Inputs come from
--seed (gen.py); the program sees only the generated files.

One client drives one Spark driver in local[k], k = min(nproc, 4), in a
closed loop: each operation starts when the previous one has returned.
--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones
(a separate traced pass; see Driver.scala). The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import gen  # noqa: E402
import metrics  # noqa: E402

# land: files per pass and rows per file. 2,000-row CSV files make the
# fused string-cascade profiling stage over half of each CSV operation
# (traced); 4,000-row Parquet files are decided mostly from footers. Two
# CSV files to eight Parquet files put op_p50_s on a Parquet file and
# op_p90_s on a CSV one, and give the CSV files about 60% of the pass.
LAND = dict(csv_files=2, csv_rows=2000, parquet_files=8, parquet_rows=4000)
WARMUP_QUERY = "q06_type_classify"
JVM_TIMEOUT = 170
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(root):
    """Every file whose change needs a rebuild."""
    files = [root / "build.sbt", HERE / "build.sbt"]
    for d in (root / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def build(root, work):
    """sbt-compile the program plus the driver; cache the classpath."""
    stamp = hashlib.sha256()
    for f in sources(root):
        stamp.update(str(f.relative_to(root)).encode())
        stamp.update(f.read_bytes())
    stamp = stamp.hexdigest()
    cp_file, stamp_file = work / "classpath.txt", work / "build.stamp"
    # reuse the classpath only while the sources and every entry on it
    # (the compiled class directories included) are still there
    if cp_file.exists() and stamp_file.exists() \
            and stamp_file.read_text() == stamp \
            and all(Path(e).exists()
                    for e in cp_file.read_text().split(os.pathsep)):
        return cp_file.read_text()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        repo_cfg = Path.home() / ".sbt" / "repositories"
        opts += (" -Dsbt.offline=true -Dsbt.override.build.repos=true"
                 f" -Dsbt.repository.config={repo_cfg}")
    env["SBT_OPTS"] = opts.strip()
    log = work / "build.log"
    with open(log, "w") as fh:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=fh, text=True,
            timeout=600)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        (work / "build.out").write_text(p.stdout)
        fail(f"build failed (see {log})")
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(stamp)
    return lines[-1].strip()


def gate_list():
    """(query, module, reason) rows of gate_light.tsv."""
    rows = []
    for ln in (HERE / "gate_light.tsv").read_text().splitlines():
        if ln.strip() and not ln.startswith("#"):
            q, mod, why = ln.split("\t")
            rows.append((q, mod, why))
    return rows


def operator_modules(root):
    return sorted(p.stem for p in
                  (root / "src/main/scala/graft/operators").glob("*.scala"))


def check_gate_list(rows, modules):
    """Every operator module has a query; every module named is real."""
    listed = {m for _, m, _ in rows}
    missing = sorted(set(modules) - listed)
    unknown = sorted(listed - set(modules) - {"core"})
    if missing or unknown:
        fail(f"gate list: modules without a query {missing}, "
             f"unknown modules {unknown}")


def run_driver(work, classpath, cores, plan):
    """Launch the driver JVM on `plan`; return (result, launch epoch s)."""
    (work / "tmp").mkdir(exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false"]
    for o in JDK17_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    plan_f, out_f = work / "run.plan.json", work / "run.result.json"
    plan_f.write_text(json.dumps(dict(plan, cores=cores, work_dir=str(work))))
    out_f.unlink(missing_ok=True)
    # Spark prefers this variable over spark.local.dir
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    with open(work / "run.log", "w") as log:
        t0 = time.time()
        p = subprocess.run(cmd + ["-cp", classpath, "perfbench.Driver",
                                  str(plan_f), str(out_f)],
                           stdout=log, stderr=subprocess.STDOUT, env=env,
                           timeout=JVM_TIMEOUT)
    if p.returncode != 0 or not out_f.exists():
        fail(f"driver exited {p.returncode} (see {work / 'run.log'})")
    return json.loads(out_f.read_text()), t0


def land_plan(work, seed):
    inputs = work / "inputs"
    shutil.rmtree(inputs, ignore_errors=True)
    man = gen.gen_land_csv(inputs / "csv", seed, LAND["csv_files"],
                           LAND["csv_rows"]) + \
        gen.gen_land_parquet(inputs / "parquet", seed, LAND["parquet_files"],
                             LAND["parquet_rows"])
    # the set-up operation: a CSV file of the same columns, a tenth of the
    # rows
    warm = gen.gen_land_csv(inputs / "warm", seed, 1,
                            LAND["csv_rows"] // 10)[0]
    for e in man:
        e["name"] = e["table"]
    warm["name"] = "land_warm"
    ops = list(man)
    random.Random(seed).shuffle(ops)
    return {"warmup": warm, "ops": ops}, man


def gate_data_stamp():
    """What the gate tables are made from: gen.py (its code, GATE_SEED
    and scale) and the libraries that write them. Tables and oracle
    answers cached under another stamp are stale."""
    h = hashlib.sha256((HERE / "gen.py").read_bytes())
    h.update(f"{gen.np.__version__} {gen.pd.__version__} "
             f"{gen.pa.__version__}".encode())
    return h.hexdigest()[:16]


def cached_dir(work, prefix, stamp):
    """work/<prefix>.<stamp>, after removing every other stamp's copy."""
    for old in work.glob(prefix + ".*"):
        if old.name != f"{prefix}.{stamp}":
            shutil.rmtree(old, ignore_errors=True)
    return work / f"{prefix}.{stamp}"


def gate_plan(work, seed, rows):
    data = cached_dir(work, "gate_data", gate_data_stamp())
    done = data / "_SUCCESS"
    if not done.exists():
        shutil.rmtree(data, ignore_errors=True)
        gen.gen_gate_tables(data)
        done.write_text("")
    check = work / "gate_check"
    shutil.rmtree(check, ignore_errors=True)
    ops = [{"name": q, "module": m} for q, m, _ in rows]
    random.Random(seed).shuffle(ops)
    return {"warmup": {"name": WARMUP_QUERY, "module": "core"}, "ops": ops,
            "data_dir": str(data), "check_dir": str(check)}


def oracle_frame(con, work, q, sql):
    """DuckDB's answer for `q`, cached per checkout, keyed by the gate
    tables' stamp and the SQL text."""
    import pandas as pd
    key = hashlib.sha256(sql.encode()).hexdigest()[:16]
    cache = cached_dir(work, "oracle", gate_data_stamp()) / f"{q}.{key}.pkl"
    if cache.exists():
        return pd.read_pickle(cache)
    df = con.execute(sql).df()
    cache.parent.mkdir(exist_ok=True)
    df.to_pickle(cache)
    return df


def gate_failures(result, work, data_dir, check_dir):
    """Queries whose check-pass output differs from the DuckDB oracle,
    compared as scripts/check_correctness.py compares them."""
    import duckdb
    sys.path.insert(0, str(HERE.parent / "scripts"))
    from check_correctness import TABLES, cells_equal, normalize

    def kind(dt):
        return "int" if dt.startswith(("int", "uint")) else \
            "float" if dt.startswith("float") else dt

    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{work / 'duckdb_tmp'}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    bad = dict(result.get("check_errors", {}))
    for q, sql in result["oracle_sql"].items():
        if q in bad:
            continue
        if sql is None:
            bad[q] = "no oracle"
            continue
        got = normalize(con.execute(
            f"SELECT * FROM read_parquet('{check_dir}/{q}/*.parquet')").df())
        want = normalize(oracle_frame(con, work, q, sql))
        if list(got.columns) != list(want.columns) or len(got) != len(want):
            bad[q] = "shape"
            continue
        if any(kind(str(got[c].dtype)) != kind(str(want[c].dtype))
               for c in got.columns):
            bad[q] = "dtype kind"
            continue
        if not all(cells_equal(x, y) for c in got.columns
                   for x, y in zip(got[c].tolist(), want[c].tolist())):
            bad[q] = "values"
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["land", "gate_light"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = Path.cwd()
    if not (root / "src/main/scala/graft").is_dir() or \
            HERE.parent.resolve() != root.resolve():
        fail("run from the root of a checkout of the program")
    work = root / ".bench_build"
    work.mkdir(exist_ok=True)
    cores = min(len(os.sched_getaffinity(0)), 4)
    classpath = build(root, work)
    modules = operator_modules(root)

    manifest = None
    if a.workload == "gate_light":
        rows = gate_list()
        check_gate_list(rows, modules)
        plan = gate_plan(work, a.seed, rows)
    else:
        plan, manifest = land_plan(work, a.seed)
    plan.update(workload=a.workload, seconds=a.seconds,
                trace=bool(a.trace))

    # One set-up per run: a cold set-up costs 10-18 s on 4 cores, and the
    # dozens of runs a two-commit comparison needs must fit in under an
    # hour, so a second JVM per run to sample it again does not fit.
    result, t0 = run_driver(work, classpath, cores, plan)
    setup_s = result["setup_end_ms"] / 1000.0 - t0

    # output checks, all outside the timed window
    if a.workload == "gate_light":
        bad_q = gate_failures(result, work, plan["data_dir"],
                              plan["check_dir"])
        for q, why in sorted(bad_q.items()):
            print(f"check: {q} FAILED ({why})")
        is_bad = (lambda op: not op["ok"] or op["name"] in bad_q)
    else:
        by_name = {e["name"]: e for e in manifest}

        def is_bad(op):
            why = metrics.land_failures(op, by_name[op["name"]])
            if why:
                print(f"check: {op['name']} FAILED {why}")
            return bool(why)

    if a.trace:
        tr = result["trace"]
        ops = tr["untraced_ops"] + tr["ops"]
        failed = metrics.count_failed(ops, is_bad)
        table = metrics.per_layer(result, manifest, modules + ["core"],
                                  failed / len(ops))
        (work / "spans.json").write_text(
            json.dumps(metrics.span_file(result)))
    else:
        ops = result["window"]["ops"]
        failed = metrics.count_failed(ops, is_bad)
        table, ok_tail = metrics.end_to_end(result, setup_s)
        n = len(ops)
        passes = len(result["window"]["passes"])
        for name, (v, unit) in table.items():
            samples = "1" if name == "setup_s" else \
                f"{n} ({n // passes} operations x {passes} passes)"
            note = "" if ok_tail.get(name, True) else \
                f" (fewer than {metrics.TAIL_SAMPLES} operations beyond it)"
            print(f"{a.workload} {name} = {v:.6g} {unit} n={samples}{note}")
        print(f"{a.workload} failed_ratio = {failed / n:.6g} ratio n={n}")
    print(f"{a.workload} local[{result['cores']}] "
          f"defaultParallelism={result['default_parallelism']}")
    print(json.dumps({
        "correct": failed == 0, "attempted": len(ops), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in table.items()},
    }))


if __name__ == "__main__":
    main()
