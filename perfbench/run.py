#!/usr/bin/env python3
"""tradecatspark benchmark: one workload, one fresh JVM, one result line.

    python3 perfbench/run.py --workload tick|live --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles the program's
sources (``src/main/scala``) together with the benchmark's own
(``perfbench/src``) against the Spark jars of ``$SPARK_HOME`` into
``.bench_build/``; later runs reuse that build while the sources are
unchanged. Each run generates the seed's inputs (``gen.py``), runs the
workload in its own JVM (``perfbench.Harness``), checks every output and
prints, as its last line, ``{"correct", "attempted", "failed", "metrics"}``
with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``) listed in ``BENCHMARK.json``. Any wrong output makes the
run exit with code 1.

Extra options:
  --fault corrupt_row|drop_file   inject an error the checks must catch
  --refresh-expected              recompute ``expected.json`` from the
                                  DuckDB oracle for every input cut
  --api-rate R                    send live's API requests at R/s and print
                                  the replies served per second (run it
                                  with R above saturation to measure the
                                  API's throughput)
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import check  # noqa: E402
import gen  # noqa: E402

BUILD = Path(".bench_build")
APP_JAR = BUILD / "app.jar"
CDS = BUILD / "app.jsa"
EXPECTED = HERE / "expected.json"
TIMEOUT_S = 170
GEN_REPS = 3
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        fail("no Spark installation: set SPARK_HOME")
    return Path(home) / "jars"


def sources():
    main = Path("src/main/scala")
    if not main.is_dir():
        fail("no program sources under src/main/scala; run from a checkout root")
    return sorted(main.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))


def build(jars):
    """Compile program + benchmark sources once per source content."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs + sorted(Path("src/main/resources").rglob("*")):
        if f.is_file():
            h.update(str(f).encode())
            h.update(f.read_bytes())
    stamp = h.hexdigest()
    classes = BUILD / "classes"
    stamp_file = BUILD / "build.stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp and APP_JAR.is_file():
        return APP_JAR
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in srcs) + "\n")
    cp = f"{jars}/*"
    rc = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", str(classes), "-classpath", cp, f"@{argfile}"],
        stdout=sys.stderr, stderr=sys.stderr).returncode
    if rc != 0:
        fail(f"build failed (scalac exit {rc})")
    res = Path("src/main/resources")
    if res.is_dir():
        shutil.copytree(res, classes, dirs_exist_ok=True)
    # one jar, so the class-data-sharing archive can hold the program's
    # classes too (the JVM archives classes from jars only)
    with zipfile.ZipFile(APP_JAR, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(classes.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(classes).as_posix())
    train(jars)
    stamp_file.write_text(stamp)
    return APP_JAR


def train(jars):
    """Dump a class-data-sharing archive from one untimed training run, so
    every measured JVM maps the Spark and program classes instead of
    loading them. Without the archive the runs still work, only slower."""
    CDS.unlink(missing_ok=True)
    root = BUILD / "train"
    shutil.rmtree(root, ignore_errors=True)
    gen.generate(root, 0, 1)
    try:
        jvm(jars, ["--workload", "train", "--seconds", "1", "--trace", "0",
                   "--root", str(root)], root, time.time() + 600,
            [f"-XX:ArchiveClassesAtExit={CDS}"])
    except SystemExit:
        print("perfbench: training run failed; running without the "
              "class-data-sharing archive", file=sys.stderr)
        CDS.unlink(missing_ok=True)
    shutil.rmtree(root, ignore_errors=True)


def jvm(jars, args, root, deadline, extra=None):
    if extra is None:
        extra = [f"-XX:SharedArchiveFile={CDS}"] if CDS.is_file() else []
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            "-Xlog:cds=off",
            f"-Djava.io.tmpdir={root / 'tmp'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           extra +
           [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-cp", f"{APP_JAR}:{jars}/*", "perfbench.Harness"] + args)
    (root / "tmp").mkdir(parents=True, exist_ok=True)
    with open(root / "jvm.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=log)
        try:
            rc = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"workload timed out; log in {root / 'jvm.log'}")
    if rc != 0:
        tail = (root / "jvm.log").read_text().splitlines()[-20:]
        print("\n".join(tail), file=sys.stderr)
        fail(f"JVM exited with {rc}")
    return json.loads((root / "result.json").read_text())


def check_tick(res, cut_k):
    expected = json.loads(EXPECTED.read_text()).get(str(cut_k), {})
    bad = 0
    for key, path in res["outputs"].items():
        entry = key.split("/", 1)[1]
        want = expected.get(entry)
        got = check.parquet_digest(path)
        if want is None or [want["rows"], want["hash"]] != list(got):
            print(f"perfbench: output mismatch {key}: got rows={got[0]}, "
                  f"expected {want}", file=sys.stderr)
            bad += 1
    return bad


def refresh_expected(jars):
    """Recompute expected.json for every cut from the DuckDB oracle."""
    table = {}
    for k in range(gen.CUTS):
        root = BUILD / "expect" / f"cut{k}"
        shutil.rmtree(root, ignore_errors=True)
        root.mkdir(parents=True)
        gen.generate(root, 0, 1, cut_k=k)
        res = jvm(jars, ["--workload", "expect", "--seconds", "1",
                         "--trace", "0", "--root", str(root)],
                  root, time.time() + 3600)
        entry = {}
        for name, sql in res["oracle_sql"].items():
            want = check.oracle_digest(root / "inputs", sql)
            got = check.parquet_digest(root / "expect" / "spark" / name)
            print(f"cut {k} {name}: oracle rows={want[0]} spark "
                  f"{'matches' if got == want else 'DIFFERS'}", file=sys.stderr)
            entry[name] = {"rows": want[0], "hash": want[1]}
        table[str(k)] = entry
    EXPECTED.write_text(json.dumps(table, indent=1, sort_keys=True) + "\n")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["tick", "live"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--fault", choices=["none", "corrupt_row", "drop_file"],
                    default="none")
    ap.add_argument("--refresh-expected", action="store_true")
    ap.add_argument("--api-rate", type=float, default=gen.REQUESTS_PER_S)
    a = ap.parse_args()
    spec = json.loads(Path("BENCHMARK.json").read_text())
    a.seconds = a.seconds or spec["run_seconds"]
    jars = spark_jars()
    build(jars)
    t_start = time.time()
    if a.refresh_expected:
        refresh_expected(jars)
        return
    if not a.workload:
        fail("--workload is required")

    root = BUILD / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(root, ignore_errors=True)
    # input generation is timed like staging: several times, median
    gen_samples = []
    for _ in range(GEN_REPS):
        t0 = time.time()
        plan = gen.generate(root, a.seed, a.seconds, api_rate=a.api_rate)
        gen_samples.append(time.time() - t0)
    res = jvm(jars,
              ["--workload", a.workload, "--seconds", str(a.seconds),
               "--trace", str(a.trace), "--root", str(root),
               "--fault", a.fault],
              root, t_start + TIMEOUT_S)

    if a.workload == "tick":
        attempted = res["entry_attempted"]
        failed = check_tick(res, plan["cut_index"])
        work = statistics.median(res["work_samples"])
    else:
        attempted = res["ingest_attempted"] + res["api_attempted"]
        failed = res["ingest_failed"] + res["api_failed"]
        work = statistics.median(res["ingest_s"])
        if a.api_rate != gen.REQUESTS_PER_S:
            print(f"perfbench: offered {a.api_rate:g} requests/s, served "
                  f"{res['layers']['Api.served_per_s']:.2f} replies/s",
                  file=sys.stderr)
        if res["api_failed"]:
            print(f"perfbench: {res['api_failed']} API replies differ from "
                  f"the direct read", file=sys.stderr)
        if res["ingest_failed"]:
            print(f"perfbench: {res['ingest_failed']} ingest files missing "
                  f"from or wrong in the final store", file=sys.stderr)
    values = {
        "setup_s": statistics.median(gen_samples) +
                   statistics.median(res["setup_samples"]),
        "work_s": work,
        "peak_pinned_mb": res["peak_pinned_bytes"] / 1048576.0,
    }
    layers = dict(res["layers"])
    layers["bench.failed_share"] = failed / max(1, attempted)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    source = layers if a.trace else values
    metrics = {m["name"]: {"value": float(source.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in wanted}
    if a.trace:
        traces = BUILD / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        shutil.copy(root / "spans.json",
                    traces / f"{a.workload}-{a.seed}.spans.json")
    shutil.rmtree(root, ignore_errors=True)
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
