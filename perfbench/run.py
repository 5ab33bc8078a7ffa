"""Seeded benchmark of the knowledge-graph build, upsert and query paths.

    python3 perfbench/run.py --workload bulk-dirty --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds the program and the benchmark from
source on first use (see build.py), then runs one workload in one JVM at
`local[4]` and prints a report followed, as the last line, by one JSON object
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones (README.md lists both).
`--self-test` runs the benchmark's own tests instead.

Exits non-zero without a result line when the build or the run fails, and
non-zero after a result line with `"correct": false` when an output check
fails.
"""
import argparse
import json
import os
import pathlib
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ["bulk-dirty", "incremental"]
CORES = 4
# Pinned for a 15 GiB host shared with other work; the inputs are small.
HEAP = "3g"
JVM_TIMEOUT_S = 170
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def commit() -> str:
    try:
        res = subprocess.run(["git", "rev-parse", "--short=12", "HEAD"],
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                             text=True, timeout=10)
        return res.stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def jvm_command(out, main_args, work, cds):
    opts = [f"-Xmx{HEAP}", f"-Xms{HEAP}", "-Xss8m", "-XX:+UseG1GC",
            "-Xlog:disable", "-Xlog:all=warning:stderr", cds,
            f"-Djava.io.tmpdir={work / 'tmp'}"]
    for p in JDK17_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cp = f"{out / 'app.jar'}:{build.spark_jars()}/*"
    return [build.java(), *opts, "-cp", cp, "perfbench.Main", *main_args]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args()
    if not args.self_test and not args.workload:
        ap.error("--workload is required")
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    # The benchmark measures the documented defaults; a leftover A/B knob in
    # the environment would silently change the measured dataflow.
    if "SPARK_GRAFT_CKPT_SER" in os.environ:
        print("[perfbench] SPARK_GRAFT_CKPT_SER is set; unset it to run the benchmark",
              file=sys.stderr)
        return 2
    try:
        out_dir, digest = build.ensure_built()
    except build.BuildError as e:
        print(f"[perfbench] build error: {e}", file=sys.stderr)
        return 2

    name = "self-test" if args.self_test else f"{args.workload}-s{args.seed}-t{args.trace}"
    work = (build.BUILD_DIR / "work" / f"{name}-{os.getpid()}").resolve()
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    result = work / "result.json"
    log = build.BUILD_DIR / "logs" / f"{name}.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    if args.self_test:
        main_args = ["--self-test", "--work", str(work)]
    else:
        main_args = ["--workload", args.workload, "--seed", str(args.seed),
                     "--seconds", str(args.seconds), "--trace", str(args.trace),
                     "--cores", str(CORES), "--work", str(work), "--result", str(result),
                     "--commit", commit(), "--source-hash", digest]
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    # Class-data sharing: the first workload run of a build records the
    # classes it loads; later runs map them instead of loading ~4 s of Spark
    # classes.
    archive = out_dir / "app.jsa"
    fresh = out_dir / f"app.jsa.tmp-{os.getpid()}"
    if args.self_test:
        cds = "-Xshare:auto"
    elif archive.exists():
        cds = f"-XX:SharedArchiveFile={archive}"
    else:
        cds = f"-XX:ArchiveClassesAtExit={fresh}"
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(jvm_command(out_dir, main_args, work, cds), env=env,
                                    stdout=subprocess.PIPE, stderr=err, text=True,
                                    start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, 9)
                proc.communicate()
                print(f"[perfbench] timed out after {JVM_TIMEOUT_S} s; log: {log}",
                      file=sys.stderr)
                return 3
        sys.stdout.write(out)
        if proc.returncode == 0 and fresh.exists():
            fresh.rename(archive)
        if proc.returncode != 0:
            tail = log.read_text(errors="replace").splitlines()[-30:]
            print("\n".join(tail), file=sys.stderr)
            print(f"[perfbench] JVM exited with {proc.returncode}; log: {log}",
                  file=sys.stderr)
            return 1
        if args.self_test:
            return 0
        res = json.loads(result.read_text())
        print(json.dumps(res, separators=(", ", ": ")))
        return 0 if res["correct"] else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        fresh.unlink(missing_ok=True)


if __name__ == "__main__":
    sys.exit(main())
