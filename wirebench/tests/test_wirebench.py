"""Self-tests of the wire-to-answer benchmark.

    python3 -m unittest discover -s wirebench/tests -v

Determinism: the op stream of (workload, seed) is byte-identical across
runs, differs across seeds (batch excepted: one fixed gate list), and no
query body carries a relative time.
Attribution: a short traced run of `ingest`, `serve` (puts and queries)
and `batch` puts every Spark job of its timed phase under a named layer, and
the job counts repeat exactly across two runs with the same seed (streaming
micro-batches excepted, see test_batch).
"""
import json
import os
import re
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
RUN = os.path.join(BENCH, "run.py")
WORKLOADS = ("ingest", "serve", "batch")


def run(*args, timeout=600):
    return subprocess.run([sys.executable, RUN, *args], cwd=ROOT, capture_output=True,
                          text=True, timeout=timeout)


def dump(workload, seed):
    r = run("--workload", workload, "--seed", str(seed), "--seconds", "10", "--dump-ops")
    if r.returncode != 0:
        raise AssertionError(r.stderr[-2000:])
    return r.stdout


class Determinism(unittest.TestCase):

    def test_same_seed_same_stream(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                self.assertEqual(dump(w, 7), dump(w, 7))

    def test_seeds_differ(self):
        # batch replays one fixed gate list over fixed tables (its answers
        # are stored per gate), so only the served workloads vary
        for w in ("ingest", "serve"):
            with self.subTest(workload=w):
                self.assertNotEqual(dump(w, 7), dump(w, 8))

    def test_query_times_are_absolute(self):
        for w in ("ingest", "serve"):
            bodies = [l for l in dump(w, 7).splitlines() if l.startswith("{")]
            self.assertTrue(bodies)
            for b in bodies:
                q = json.loads(b)
                self.assertIsInstance(q["start"], int, b)
                self.assertIsInstance(q["end"], int, b)
                self.assertNotRegex(b, r"-ago|now", b)

    def test_batch_stream_is_the_gate_list(self):
        gates = re.findall(r"== timed gate (\S+)", dump("batch", 7))
        self.assertEqual(gates, ["pl_e2e_curation", "pl_textrank", "q_asof_stream"] * 2)


LAYERS = re.compile(r"^(store\.(append|meta|compact|other)|query\.(exec|other)|"
                    r"batch\.(pipeline|streaming|other))$")


def traced(workload, seed):
    r = run("--workload", workload, "--seed", str(seed), "--seconds", "2", "--trace", "1")
    if r.returncode != 0:
        raise AssertionError(r.stdout[-2000:] + r.stderr[-2000:])
    metrics = {k: v["value"] for k, v in json.loads(r.stdout.splitlines()[-1])["metrics"].items()}
    spans_path = os.path.join(ROOT, ".bench_run", "spans", f"{workload}-seed{seed}.jsonl")
    with open(spans_path) as fh:
        spans = [json.loads(l) for l in fh if l.strip()]
    return metrics, spans


class Attribution(unittest.TestCase):

    def check(self, workload, counters):
        first, spans = traced(workload, 11)
        jobs = [s for s in spans if s.get("span", "").startswith("job:")]
        self.assertTrue(jobs)
        for s in jobs:
            self.assertRegex(s["span"].split(":")[2], LAYERS, s)
            self.assertIsNotNone(s["op"], s)
        self.assertEqual(first["trace.unattributed_jobs"], 0)
        second, second_spans = traced(workload, 11)
        for c in counters:
            with self.subTest(counter=c):
                self.assertGreater(first[c], 0)
                self.assertEqual(first[c], second[c])
        return spans, second_spans

    def test_ingest(self):
        self.check("ingest", ["store.jobs_per_put"])

    def test_serve(self):
        self.check("serve", ["store.jobs_per_put", "query.jobs"])

    def test_batch(self):
        # A streaming replay runs as many micro-batches as its trigger loop
        # finds work for, and whether a no-data batch (watermark advance)
        # runs depends on timing: q_asof_stream ran 4 or 5 micro-batch jobs
        # per pass on identical runs. Its count is therefore compared
        # without the micro-batch jobs; the pipeline gates' counts exactly.
        spans = self.check("batch", ["batch.pl_e2e_curation.jobs", "batch.pl_textrank.jobs"])

        def batch_jobs(run):
            ops = {s["op"]: s["span"] for s in run if s.get("span", "").startswith("op:")}
            jobs = [s for s in run if s.get("span", "").startswith("job:")]
            return [(ops[o], sum(1 for j in jobs if j["op"] == o and
                                 not j["span"].endswith(":batch.streaming")))
                    for o in sorted(ops)]
        first, second = (batch_jobs(r) for r in spans)
        self.assertEqual(first, second)
        self.assertTrue(all(n > 0 for _, n in first))

if __name__ == "__main__":
    unittest.main()
