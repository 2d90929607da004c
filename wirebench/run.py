#!/usr/bin/env python3
"""Wire-to-answer benchmark: one command per workload.

    python3 wirebench/run.py --workload ingest|serve|batch --seed N \
        --seconds S --trace 0|1

Builds the engine from source (once per tree, see build.py), runs the
workload in one pinned JVM (heap, local[nproc]), and relays the JVM's
result: a `# host {...}` stamp line, then one JSON line with `correct`,
`attempted`, `failed` and `metrics`. Exits non-zero on a wrong answer,
a failed op, a failed build, or a run over the time limit. Run from the
root of a checkout; everything it writes stays under `.bench_build/`
and `.bench_run/` there.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

HEAP = "4g"
TIME_LIMIT_S = 170
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def java_cmd(classpath, workdir, trace, main_args):
    opens = [x for p in JDK_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    # traced runs only: deep call sites, so each Spark job names the graft
    # method that ran it; untraced runs keep ServerMain's session settings
    deep = ["-Dspark.callstack.depth=200"] if trace else []
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:+AlwaysPreTouch"] + opens +
            [f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')}"] + deep +
            ["-cp", classpath, "graft.wirebench.Main"] + main_args)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "serve", "batch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--dump-ops", action="store_true",
                    help="print the op stream of (workload, seed, seconds) and exit")
    ap.add_argument("--record", action="store_true",
                    help="batch only: rewrite the stored gate answers from this run")
    a = ap.parse_args()

    if not build.engine_present():
        print("wirebench: run from the root of a checkout (engine sources not found)",
              file=sys.stderr)
        return 2
    classpath = build.ensure_built()
    run_dir = os.path.join(ROOT, ".bench_run")
    workdir = os.path.join(run_dir, f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(os.path.join(workdir, "tmp"))
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--workdir", workdir, "--cpus", str(cpus()),
            "--heap", HEAP, "--expected", os.path.join(HERE, "expected_batch.json")]
    if a.dump_ops:
        args.append("--dump-ops")
    if a.trace:
        args += ["--spans", os.path.join(run_dir, "spans", f"{a.workload}-seed{a.seed}.jsonl")]
    if a.record:
        args += ["--record", os.path.join(HERE, "expected_batch.json")]
    log_path = os.path.join(run_dir, f"{a.workload}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(java_cmd(classpath, workdir, a.trace, args), cwd=workdir,
                                stdout=subprocess.PIPE, stderr=log, text=True,
                                start_new_session=True)

        def stop(*_):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(workdir, ignore_errors=True)
            sys.exit(143)
        # the JVM runs in its own process group: take it down with us
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            out, _ = proc.communicate(timeout=TIME_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            print(f"wirebench: {a.workload} exceeded {TIME_LIMIT_S} s", file=sys.stderr)
            return 3
        finally:
            shutil.rmtree(workdir, ignore_errors=True)
    if proc.returncode != 0:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
    sys.stdout.write(out)
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
