"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The fast tests need only Python. Set PERFBENCH_E2E=1 to also run the
end-to-end tests, which build the library and run the command itself
(a few minutes).
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import golden  # noqa: E402
import run  # noqa: E402

ROOT = os.path.dirname(HERE)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


class SeedTest(unittest.TestCase):
    def test_same_seed_same_streams(self):
        self.assertEqual(gen.questions(7, 0.01, 5), gen.questions(7, 0.01, 5))
        self.assertEqual(gen.statements(7, 0.01, 3), gen.statements(7, 0.01, 3))
        self.assertEqual(gen.key_orders(7, 4), gen.key_orders(7, 4))
        self.assertNotEqual(gen.questions(7, 0.01, 5), gen.questions(8, 0.01, 5))
        self.assertNotEqual(gen.statements(7, 0.01, 3), gen.statements(8, 0.01, 3))

    def test_fixed_blocks_whatever_the_speed(self):
        # the measured work is set by --seconds alone
        secs = spec()["run_seconds"]
        for w, n in (("ask", 4), ("dml", 2)):
            inp = run.make_inputs(w, 1, round(secs / run.BLOCK_S[w]), 4 * secs, 0, "d")
            self.assertEqual(inp["blocks"], n)
            stream = inp.get("questions") or inp["statements"]
            self.assertEqual(len(stream), (n + 1) * inp["per_block"])

    def test_same_seed_same_tables(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.make_tables(a, 0.001, 5, gen.TPCH)
            gen.make_tables(b, 0.001, 5, gen.TPCH)
            for t in gen.TPCH:
                self.assertTrue(pq.read_table(f"{a}/{t}.parquet").equals(
                    pq.read_table(f"{b}/{t}.parquet")), t)

    def test_blocks_have_the_same_mix(self):
        qs = gen.questions(3, 0.01, blocks=4)
        per_block = {}
        for q in qs:
            per_block.setdefault(q["block"], []).append(q["text"].split("] ", 1)[1][:12])
        self.assertEqual(len(per_block), 4)
        for b in per_block.values():
            self.assertEqual(len(b), len(gen.TEMPLATES))
        st = gen.statements(3, 0.01, blocks=4)
        for blk in range(4):
            sql = [s["sql"] for s in st if s["block"] == blk]
            self.assertEqual(sum(s.startswith("SELECT") for s in sql), 3)
            self.assertEqual(sum(s.startswith("DELETE") for s in sql), 1)
            self.assertEqual(len(sql), gen.BLOCK_STATEMENTS)


class CheckTest(unittest.TestCase):
    """A wrong answer counts as a failure; a right one does not."""

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.data = cls.tmp.name
        gen.make_tables(cls.data, 0.01, 9, gen.TPCH)
        cls.inputs = {"seed": 9, "sf": 0.01, "blocks": 0}
        cls.qs = gen.questions(9, 0.01, blocks=1)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def result(self, rows_for):
        samples = [{"id": q["id"], "kind": "ask", "ok": True, "measured": True,
                    "err": "", "count": -1, "rows": rows_for(q)} for q in self.qs]
        return {"samples": samples}

    def golden_rows(self, q):
        con = golden._load_sqlite(self.data, gen.TPCH)
        return [json.dumps(r) for r in golden._rows(con.execute(q["lite"]))]

    def test_right_answers_pass(self):
        att, failed, _ = golden.check_ask(self.result(self.golden_rows),
                                          self.inputs, self.data)
        self.assertEqual((att, failed), (len(self.qs), 0))

    def test_stub_default_answer_fails(self):
        # what the stub answers for a question it does not know
        att, failed, _ = golden.check_ask(
            self.result(lambda q: ['{"n":1500}']), self.inputs, self.data)
        self.assertEqual(failed, att)

    def test_one_wrong_value_fails(self):
        def rows(q):
            r = [json.loads(x) for x in self.golden_rows(q)]
            if q["id"] == self.qs[0]["id"]:
                k = next(iter(r[0]))
                r[0][k] = 12345.678
            return [json.dumps(x) for x in r]
        _, failed, notes = golden.check_ask(self.result(rows), self.inputs, self.data)
        self.assertEqual(failed, 1, notes)


class MetricNamesTest(unittest.TestCase):
    def fake(self, workload):
        s = [{"id": "ingest", "kind": "ingest", "s": 5.0, "ok": True, "measured": False},
             {"id": "x", "kind": run.REQUESTS[workload][0], "s": 0.3, "ok": True,
              "measured": True}]
        return {"samples": s, "setup_s": 20.0, "retained_heap_mb": 80.0, "layers": {}}

    def test_operator_passes(self):
        res = self.fake("ask")
        for p, (a, b) in enumerate([(3.0, 5.0), (1.0, 2.0), (1.5, 2.5), (0.5, 1.0)]):
            res["samples"] += [
                {"id": f"{p}:cte", "kind": "key", "s": a, "ok": True, "measured": False},
                {"id": f"{p}:join_inner", "kind": "key", "s": b, "ok": True,
                 "measured": False}]
        pl = run.per_layer(res, 1, 0)
        self.assertEqual(pl["cold_pass_s"]["value"], 8.0)
        self.assertEqual(pl["pass_s"]["value"], 3.0)
        self.assertEqual(pl["ops.cte.cold_s"]["value"], 3.0)
        self.assertEqual(pl["ops.join_inner.warm_s"]["value"], 2.0)

    def test_every_metric_named_with_its_unit(self):
        sp = spec()
        for w in sp["workloads"]:
            e2e = run.end_to_end(w["name"], self.fake(w["name"]))
            self.assertEqual({k: v["unit"] for k, v in e2e.items()},
                             {m["name"]: m["unit"] for m in sp["end_to_end"]})
            pl = run.per_layer(self.fake(w["name"]), 1, 0)
            self.assertEqual({k: v["unit"] for k, v in pl.items()},
                             {m["name"]: m["unit"] for m in sp["per_layer"]})


@unittest.skipUnless(os.environ.get("PERFBENCH_E2E") == "1", "set PERFBENCH_E2E=1")
class EndToEndTest(unittest.TestCase):
    def run_cmd(self, *args):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                           cwd=ROOT, capture_output=True, text=True, timeout=1200)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        return json.loads(p.stdout.strip().splitlines()[-1])

    def test_command_prints_every_metric(self):
        sp = spec()
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            out = self.run_cmd("--workload", "ask", "--seed", "1", "--seconds", "2",
                               "--trace", str(trace))
            self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
            self.assertTrue(out["correct"])
            self.assertEqual({k: v["unit"] for k, v in out["metrics"].items()},
                             {m["name"]: m["unit"] for m in sp[key]})


if __name__ == "__main__":
    unittest.main()
