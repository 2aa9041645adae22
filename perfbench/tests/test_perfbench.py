"""Tests of the benchmark's own code: generators, metric registry, result
shape and output checks. They need no JVM.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import json
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.diff_files or cmp.funny_files:
        return False
    return all(same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


class GeneratorDeterminism(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as t:
            for d in ("a", "b"):
                gen.text_corpus(os.path.join(t, d, "text"), 7, 200_000, 3)
                table, _ = gen.documents(7, 300, 0.1, 0.1)
                gen.write_parquet(table, os.path.join(t, d, "documents.parquet"))
                gen.write_parquet(gen.embeddings(7, 100), os.path.join(t, d, "embeddings.parquet"))
                for name, tb in gen.relational(7, 0.001).items():
                    gen.write_parquet(tb, os.path.join(t, d, f"{name}.parquet"))
                gen.stage_files(table, os.path.join(t, d, "stage"), 4)
            self.assertTrue(same_tree(os.path.join(t, "a"), os.path.join(t, "b")))

    def test_other_seed_other_bytes(self):
        a, _ = gen.documents(1, 200, 0.1, 0.1)
        b, _ = gen.documents(2, 200, 0.1, 0.1)
        self.assertNotEqual(a.column("text").to_pylist(), b.column("text").to_pylist())

    def test_text_truth_matches_files(self):
        with tempfile.TemporaryDirectory() as t:
            truth = gen.text_corpus(t, 3, 100_000, 2)
            words = []
            for name in sorted(os.listdir(t)):
                with open(os.path.join(t, name)) as f:
                    words += f.read().split()
            self.assertEqual(len(words), truth["tokens"])
            self.assertEqual(len(set(words)), truth["distinct"])
            self.assertEqual(sum(os.path.getsize(os.path.join(t, f)) for f in os.listdir(t)),
                             truth["bytes"])

    def test_planted_copies(self):
        table, truth = gen.documents(5, 500, 0.1, 0.1)
        text = dict(zip(table.column("doc_id").to_pylist(), table.column("text").to_pylist()))
        self.assertEqual(sorted(text), list(range(500)))
        self.assertEqual(len(truth["exact"]), 50)
        for copy, orig in truth["exact"]:
            self.assertEqual(text[copy], text[orig])
        for copy, orig in truth["near"]:
            a, b = text[copy].split(), text[orig].split()
            self.assertEqual(len(a), len(b))
            self.assertEqual(sum(x != y for x, y in zip(a, b)), 1)

    def test_inputs_are_cached_per_seed(self):
        with tempfile.TemporaryDirectory() as t:
            d1, _, s1 = gen.inputs(t, "ship", 9)
            d2, _, s2 = gen.inputs(t, "ship", 9)
            self.assertEqual((d1, s1), (d2, s2))
            self.assertNotEqual(d1, gen.inputs(t, "ship", 10)[0])


class MetricRegistry(unittest.TestCase):
    def test_names_and_units(self):
        names = [m[0] for m in metrics.END_TO_END] + [m[0] for m in metrics.PER_LAYER]
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9_.-]+$")
            self.assertRegex(n, metrics.NAME_RE)
        self.assertEqual(len(names), len(set(names)))
        for _, u, b, *_ in metrics.END_TO_END + metrics.PER_LAYER:
            self.assertRegex(u, metrics.UNIT_RE)
            self.assertIn(b, ("lower", "higher"))
        for _, _, _, bound in metrics.END_TO_END:
            self.assertLessEqual(bound, 0.25)
        self.assertLessEqual(len(metrics.PER_LAYER), 128)

    def test_benchmark_json_matches_registry(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            self.assertEqual(json.load(f), metrics.benchmark_json())

    def test_spec_names_known_metrics(self):
        with open(os.path.join(BENCH, "spec.json")) as f:
            spec = json.load(f)
        e2e, layer = set(metrics.units(False)), set(metrics.units(True))
        for row in spec["layer_moves"]:
            self.assertTrue(set(row["metrics"]) <= layer, row)
            for w, ms in row["moves"].items():
                self.assertIn(w, metrics.WORKLOADS)
                self.assertTrue(set(ms) <= e2e, row)
        self.assertEqual(set(spec["end_to_end"]), e2e)


def fake_rec(workload, cycles):
    return {"workload": workload, "cycles": cycles, "rss_peak_mb": 1000.0,
            "setups": [{"session_s": 3.0, "warmup_s": 4.0}, {"session_s": 0.1, "warmup_s": 1.0},
                       {"session_s": 0.1, "warmup_s": 1.1}],
            "layers": {}, "extra": {}, "box": {}}


class ResultShape(unittest.TestCase):
    def test_end_to_end_line(self):
        with tempfile.TemporaryDirectory() as t:
            truth = gen.text_corpus(os.path.join(t, "text"), 1, 50_000, 1)
            cycles = [{"cycle": i, "seconds": s, "written": 100,
                       "ops": [{"name": "wordcount", "seconds": s, "out": ""}]}
                      for i, s in enumerate([3.0, 1.2, 1.0, 1.1])]
            results = [("wordcount", True, "")] * 4
            line = run.score("wordcount", 0, fake_rec("wordcount", cycles), results, t, truth, 0.1)
        line = json.loads(json.dumps(line))
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual((line["correct"], line["attempted"], line["failed"]), (True, 4, 0))
        self.assertEqual(set(line["metrics"]), set(metrics.units(False)))
        for name, m in line["metrics"].items():
            self.assertEqual(set(m), {"value", "unit"})
            self.assertEqual(m["unit"], metrics.units(False)[name])
            self.assertGreater(m["value"], 0)
        self.assertAlmostEqual(line["metrics"]["wall_s"]["value"], 1.1)
        self.assertAlmostEqual(line["metrics"]["cold_s"]["value"], 3.0)
        self.assertAlmostEqual(line["metrics"]["setup_s"]["value"], 1.2)

    def test_per_layer_line_has_every_layer_metric(self):
        cycles = [{"cycle": 0, "seconds": 1.0, "written": 1, "ops": [{"name": "q", "seconds": 1.0}]}]
        rec = fake_rec("wordcount", cycles)
        rec["layers"] = {"spark.jobs": 12.0}
        line = run.score("wordcount", 1, rec, [("q", True, "")], "", {}, 0.5)
        self.assertEqual(set(line["metrics"]), set(metrics.units(True)))
        self.assertEqual(line["metrics"]["spark.jobs"]["value"], 12.0)
        self.assertEqual(line["metrics"]["bench.inputgen_s"]["value"], 0.5)


class CorruptedResults(unittest.TestCase):
    def write_wordcount(self, out, counts):
        os.makedirs(os.path.join(out, "tsv"))
        with open(os.path.join(out, "tsv", "part-00000.csv"), "w") as f:
            for w, c in sorted(counts.items(), key=lambda wc: (-wc[1], wc[0])):
                f.write(f"{w}\t{c}\n")
        with open(os.path.join(out, "top.txt"), "w") as f:
            f.write(gen.format_top_k(counts))

    def test_word_count_off_by_one_is_a_failed_op(self):
        with tempfile.TemporaryDirectory() as t:
            truth = gen.text_corpus(os.path.join(t, "text"), 2, 80_000, 2)
            good = dict(truth["counts"])
            bad = dict(good)
            rare = min(bad, key=lambda w: (bad[w], w))
            bad[rare] += 1
            outs = []
            for i, counts in enumerate([good, good, bad]):
                outs.append(os.path.join(t, f"wc-{i}"))
                self.write_wordcount(outs[-1], counts)
            cycles = [{"cycle": i, "seconds": s, "written": 10,
                       "ops": [{"name": "wordcount", "seconds": s, "out": o}]}
                      for i, (s, o) in enumerate(zip([2.0, 1.5, 0.1], outs))]
            results = check.check_wordcount(cycles, truth)
            self.assertEqual([ok for _, ok, _ in results], [True, True, False])
            line = run.score("wordcount", 0, fake_rec("wordcount", cycles), results,
                             os.path.join(t, "text"), truth, 0.0)
            self.assertFalse(line["correct"])
            self.assertEqual(line["failed"], 1)
            # the wrong, fast cycle is not reported as a time
            self.assertAlmostEqual(line["metrics"]["wall_s"]["value"], 1.5)
            # and a wrong first cycle fails on its reference check
            self.assertFalse(check.check_wordcount_output(outs[2], truth)[0])

    def test_shipped_planted_copy_is_a_failed_op(self):
        with tempfile.TemporaryDirectory() as t:
            table, truth = gen.documents(4, 300, 0.1, 0.1)
            gen.write_parquet(table, os.path.join(t, "documents.parquet"))
            docs = table.to_pandas()
            dup = {max(c, o) for c, o in truth["exact"]}
            keep = sorted(set(range(300)) - dup)

            def ship(name, ids):
                out = os.path.join(t, name)
                os.makedirs(os.path.join(out, "split=train"))
                pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64())}),
                               os.path.join(out, "split=train", "part-00000.parquet"))
                return out

            big = 1 << 40  # one file per split
            ok_out = ship("ok", keep)
            self.assertEqual(check.check_ship_output(ok_out, {"train": 1}, docs, set(keep),
                                                     truth, big), (True, ""))
            leaked = keep + [min(dup)]
            bad_out = ship("bad", leaked)
            ok, detail = check.check_ship_output(bad_out, {"train": 1}, docs, set(leaked),
                                                 truth, big)
            self.assertFalse(ok)
            self.assertIn("planted exact copy", detail)
            # against the reference keep set it is a failed op too
            self.assertFalse(check.check_ship_output(bad_out, {"train": 1}, docs, set(keep),
                                                     truth, big)[0])


if __name__ == "__main__":
    unittest.main()
