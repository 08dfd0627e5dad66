#!/usr/bin/env python3
"""graft benchmark: one run of one workload, run from the repository root.

    python3 perfbench/run.py --workload fraud_sf1 --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1     # every workload, in turn
    python3 perfbench/run.py --workload all --record     # re-record the answers

A run builds the harness with the engine's sources if they changed
(the Scala compiler from the Spark jars directory, then a
class-data-sharing archive for the JVM), writes
the workload's input tables from the seed, starts one JVM that invokes
the workload's pipeline once, checks its answer against
perfbench/expected.json and prints one JSON result line with the
metrics BENCHMARK.json lists. It exits 1 when an answer is wrong or the
pipeline fails, and 2 when the engine's sources or the toolchain are
missing or the build fails.

Everything the run writes stays under perfbench/.work/ (inputs, Spark
warehouse and local dirs, logs); a run's own directory is removed when
it ends.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala", "graft")
JAR = os.path.join(WORK, "perfbench.jar")
CDS_ARCHIVE = os.path.join(WORK, "classes.jsa")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 800

# input size per workload: (customers, documents); see gen.build_tables
WORKLOADS = {
    "fraud_sf1": (6000, 500),
    "curation_gated": (150, 500),
}
SPANS = {
    "fraud_sf1": ["ops.Features.q19_s", "ops.Graph.q53_s", "ops.Graph.q22_s",
                  "ops.Graph.q23_s", "ops.Features.q59_s"],
    "curation_gated": ["ops.Corpus.q57_s", "ops.Corpus.q78_s", "ops.Corpus.q60_s",
                       "ops.Corpus.bm25_s", "ops.Sampling.mix_s", "ops.Corpus.pack_s"],
}
SELF_SPAN = {"fraud_sf1": "pipeline.FraudPipeline.self_s",
             "curation_gated": "pipeline.CurationPipeline.self_s"}
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "3g"


class Unavailable(Exception):
    """The engine sources or the toolchain are missing: no result."""


def metric_units(kind):
    """{name: unit} of the `end_to_end` or `per_layer` metrics, in the
    order BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def scala_sources():
    return sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True)
                  + glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True))


def sources_digest():
    h = hashlib.sha256()
    for f in scala_sources() + [os.path.join(ROOT, "build.sbt")]:
        with open(f, "rb") as fh:
            h.update(f.encode() + b"\0" + fh.read())
    return h.hexdigest()


def wait_group(proc, limit_s):
    """Waits for `proc`, started in a session of its own; past `limit_s`
    kills its whole process group and returns None."""
    try:
        return proc.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.access(os.path.join(home, "bin", "java"), os.X_OK):
        return os.path.join(home, "bin", "java")
    return shutil.which("java")


def spark_jars():
    """The Spark jars directory the engine's build.sbt takes them from."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise Unavailable("the engine's build.sbt names no Spark jars (unmanagedBase)")
    return m.group(1)


def ensure_built():
    """Compiles the harness and the engine's sources into one jar when
    they changed, then dumps the JVM's class-data-sharing archive from a
    run that only starts a session.

    The compiler is the scala-compiler jar the Spark jars directory
    ships, run in a plain JVM: the build needs no sbt, no network and
    nothing under the user's home directory."""
    if not os.path.isfile(os.path.join(ENGINE_SRC, "GraftSession.scala")):
        raise Unavailable(f"engine sources not found under {ENGINE_SRC}")
    jars = spark_jars()
    if not os.path.isdir(jars) or not java_bin():
        raise Unavailable("java or the Spark jars are missing")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise Unavailable(f"no scala-compiler jar in {jars}")
    os.makedirs(WORK, exist_ok=True)
    stamp = os.path.join(WORK, "build.stamp")
    digest = sources_digest()
    if os.path.isfile(JAR) and os.path.exists(stamp) \
            and open(stamp).read() == digest:
        return
    for f in (stamp, JAR, CDS_ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    build_dir = os.path.join(WORK, "build")
    shutil.rmtree(build_dir, ignore_errors=True)
    classes = os.path.join(build_dir, "classes")
    os.makedirs(classes)
    with open(os.path.join(build_dir, "sources.txt"), "w") as f:
        f.write("\n".join(scala_sources()) + "\n")
    log_path = os.path.join(WORK, "build.log")
    try:
        with open(log_path, "w") as log:
            rc = wait_group(subprocess.Popen(
                [java_bin(), "-Xmx2g", "-Xss16m", "-XX:-UsePerfData",
                 f"-Djava.io.tmpdir={build_dir}", "-cp", f"{jars}/*",
                 "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes,
                 f"@{os.path.join(build_dir, 'sources.txt')}"],
                cwd=build_dir, stdout=log, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, start_new_session=True), BUILD_LIMIT_S)
        if rc != 0:
            with open(log_path) as log:
                sys.stderr.write("".join(log.readlines()[-30:]))
            raise Unavailable(f"compile failed (exit {rc}; see {log_path})")
        with zipfile.ZipFile(JAR + ".tmp", "w", zipfile.ZIP_DEFLATED) as jar:
            for d, _, files in os.walk(classes):
                for name in sorted(files):
                    path = os.path.join(d, name)
                    jar.write(path, os.path.relpath(path, classes))
        os.replace(JAR + ".tmp", JAR)
    finally:
        shutil.rmtree(build_dir, ignore_errors=True)
    import gen  # noqa: E402
    train_dir = os.path.join(WORK, "train")
    shutil.rmtree(train_dir, ignore_errors=True)
    os.makedirs(train_dir)
    try:
        data = os.path.join(train_dir, "data")
        gen.write(data, 150, 50, 0)
        report = run_harness("fraud_sf1", data, train_dir, False, ["--train"],
                             [f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}"])
        if not os.path.exists(CDS_ARCHIVE):  # --train writes no report
            raise Unavailable(f"class-data-sharing dump failed: {report.get('error')}")
    finally:
        shutil.rmtree(train_dir, ignore_errors=True)
    with open(stamp, "w") as f:
        f.write(digest)


def run_harness(workload, data, run_dir, trace, extra=(), jvm_flags=None):
    """Starts the harness JVM and returns its report (dict). Without
    `jvm_flags` the JVM maps the class-data-sharing archive, when one
    was dumped."""
    out = os.path.join(run_dir, "report.json")
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(os.environ,
               SPARK_LOCAL_DIRS=local,
               SPARK_GRAFT_CONF=";".join([
                   f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
                   f"spark.local.dir={local}"]))
    if jvm_flags is None:
        jvm_flags = [f"-XX:SharedArchiveFile={CDS_ARCHIVE}"] \
            if os.path.exists(CDS_ARCHIVE) else []
    cmd = [java_bin(), f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={tmp}", "-Dspark.ui.enabled=false", *jvm_flags]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{JAR}:{spark_jars()}/*", "graft.perfbench.Harness",
            "--workload", workload, "--data", data, "--out", out, *extra]
    if trace:
        cmd.append("--trace")
    log_path = os.path.join(WORK, f"last-{workload}.log")
    with open(log_path, "w") as log:
        rc = wait_group(subprocess.Popen(
            cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True), RUN_LIMIT_S)
    if rc is None:
        return {"error": f"harness exceeded {RUN_LIMIT_S} s"}
    if not os.path.exists(out):
        return {"error": f"harness exited {rc} without a report (see {log_path})"}
    with open(out) as f:
        return json.load(f)


def load_expected():
    with open(os.path.join(BENCH, "expected.json")) as f:
        return json.load(f)


def check_answer(workload, answer, expected):
    """Returns the list of mismatches (empty when the answer is right)."""
    if answer is None:
        return ["no answer"]
    bad = []
    want = expected.get(workload, {})
    for k in sorted(set(want) | set(answer)):
        a, w = answer.get(k), want.get(k)
        if isinstance(w, float) or isinstance(a, float):
            ok = a is not None and w is not None and abs(a - w) <= 1e-6
        else:
            ok = a == w
        if not ok:
            bad.append(f"{k}: got {a!r}, want {w!r}")
    if workload == "curation_gated":
        for t in ("keeplist", "chunks"):
            if answer.get(f"lake_{t}_rows") != answer.get("n_final"):
                bad.append(f"lake table curation_{t} holds {answer.get(f'lake_{t}_rows')} "
                           f"rows, stats n_final is {answer.get('n_final')}")
    return bad


def run_once(workload, seed, trace, expected):
    """One run: inputs from the seed, one harness JVM, the checks.
    Returns (result line, problems found)."""
    customers, docs = WORKLOADS[workload]
    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{workload}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        import gen  # noqa: E402 (numpy/pyarrow load only when a run starts)
        data = os.path.join(run_dir, "data")
        sizes = gen.write(data, customers, docs, seed)
        report = run_harness(workload, data, run_dir, trace)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    bad = [report["error"]] if report.get("error") else \
        check_answer(workload, report.get("answer"), expected)
    span_errors = report.get("span_errors", [])
    # traced: the call, each ops span, and the counter self-check
    attempted = 1 + (len(SPANS[workload]) + 1 if trace else 0)
    failed = (1 if bad else 0) + len(span_errors)
    if trace:
        layers = dict(report.get("layers", {}))
        touched = layers.pop("tables.touched", [])
        on_disk = sum(sizes[t] for t in touched) / 2**20
        layers["tables.scan_amplification"] = \
            layers.get("tables.input_mb", 0.0) / on_disk if on_disk else 0.0
        layers[SELF_SPAN[workload]] = layers.pop("pipeline.self_s", 0.0)
        spans = report.get("spans", {})
        metrics = {}
        for name, unit in metric_units("per_layer").items():
            value = layers.get(name, spans.get(name, 0.0))
            metrics[name] = {"value": value, "unit": unit}
    else:
        metrics = {name: {"value": report.get(name, 0.0), "unit": unit}
                   for name, unit in metric_units("end_to_end").items()}
    result = {"correct": not bad and not span_errors, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    return result, bad + span_errors


def record(workloads):
    """Re-records the workloads' answers in expected.json from seed 0,
    checks that seed 1 gives the same answers, and cross-checks each
    workload's ops functions against the engine's DuckDB oracle SQL."""
    import oracle  # noqa: E402
    ensure_built()
    answers = {}
    failures = 0
    for workload in workloads:
        customers, docs = WORKLOADS[workload]
        run_dir = os.path.join(WORK, f"record-{workload}")
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir)
        import gen  # noqa: E402
        per_seed = []
        for seed in (0, 1):
            data = os.path.join(run_dir, f"data-{seed}")
            gen.write(data, customers, docs, seed)
            spans_dir = os.path.join(run_dir, f"spans-{seed}")
            os.makedirs(spans_dir)
            rdir = os.path.join(run_dir, f"jvm-{seed}")
            os.makedirs(rdir)
            report = run_harness(workload, data, rdir, False,
                                 ["--oracle-dir", spans_dir] if seed == 0 else [])
            if report.get("error"):
                raise SystemExit(f"{workload} seed {seed}: {report['error']}")
            per_seed.append(report["answer"])
            if seed == 0:
                failures += oracle.check(spans_dir, data)
        if per_seed[0] != per_seed[1]:
            print(f"{workload}: seeds 0 and 1 disagree:\n  {per_seed[0]}\n  {per_seed[1]}")
            failures += 1
        answers[workload] = per_seed[0]
        print(f"{workload}: {json.dumps(per_seed[0], sort_keys=True)}")
        shutil.rmtree(run_dir, ignore_errors=True)
    if failures:
        raise SystemExit(f"{failures} check(s) failed; expected.json left unchanged")
    for workload, a in answers.items():
        bad = check_answer(workload, a, {workload: a})  # the lake row counts
        if bad:
            raise SystemExit(f"{workload}: {bad}")
    path = os.path.join(BENCH, "expected.json")
    if os.path.exists(path):
        answers = {**load_expected(), **answers}
    with open(path, "w") as f:
        json.dump(answers, f, indent=1, sort_keys=True)
        f.write("\n")
    print("expected.json written")


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10,
                   help="measurement time; a run never starts a second "
                        "invocation, each one outlasts this")
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--record", action="store_true")
    args = p.parse_args()
    sys.path.insert(0, BENCH)
    try:
        if not args.workload:
            p.error("--workload is required")
        workloads = list(WORKLOADS) if args.workload == "all" else [args.workload]
        if args.record:
            record(workloads)
            return 0
        ensure_built()
        expected = load_expected()
    except Unavailable as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in workloads:
        result, problems = run_once(w, args.seed, args.trace == 1, expected)
        for msg in problems:
            print(f"perfbench: {w}: {msg}", file=sys.stderr)
        if len(workloads) == 1:
            total = result
            break
        for name, m in result["metrics"].items():
            print(f"{w} {name} {m['value']} {m['unit']}")
            total["metrics"][f"{w}.{name}"] = m
        total["correct"] = total["correct"] and result["correct"]
        total["attempted"] += result["attempted"]
        total["failed"] += result["failed"]
    print(json.dumps(total))
    return 0 if total["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
