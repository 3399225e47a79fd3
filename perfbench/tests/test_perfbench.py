"""Tests of the benchmark harness's own pieces.

    python3 -m unittest discover -s perfbench/tests

The listener test builds the harness (sbt) on first use and starts a
local Spark session; the others need only Python.
"""
import json
import os
import re
import shutil
import subprocess
import sys
import unittest

import pyarrow as pa

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import props  # noqa: E402
import run  # noqa: E402

SCRATCH = os.path.join(HERE, ".run", "tests")
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def setUpModule():
    shutil.rmtree(SCRATCH, ignore_errors=True)
    os.makedirs(SCRATCH)


def tearDownModule():
    shutil.rmtree(SCRATCH, ignore_errors=True)


def _bytes(d):
    out = {}
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            out[f] = fh.read()
    return out


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_byte_identical_inputs(self):
        for w in run.WORKLOADS:
            a = gen.write(w, 11, os.path.join(SCRATCH, f"{w}-a"))
            b = gen.write(w, 11, os.path.join(SCRATCH, f"{w}-b"))
            self.assertEqual(_bytes(a), _bytes(b), w)

    def test_different_seeds_give_different_inputs(self):
        for w in run.WORKLOADS:
            a = gen.write(w, 11, os.path.join(SCRATCH, f"{w}-c"))
            b = gen.write(w, 12, os.path.join(SCRATCH, f"{w}-d"))
            fa, fb = _bytes(a), _bytes(b)
            self.assertEqual(sorted(fa), sorted(fb))
            for f in fa:
                self.assertNotEqual(fa[f], fb[f], f"{w}/{f}")

    def test_sizes_do_not_depend_on_the_seed(self):
        for w in run.WORKLOADS:
            rows = [{n: t.num_rows for n, t in gen.tables(w, s).items()} for s in (1, 2)]
            self.assertEqual(rows[0], rows[1], w)

    def test_schemas_match_the_sf_layout(self):
        docs = gen.tables("etl-wikibooks", 1)["documents"]
        self.assertEqual(docs.schema, gen.DOC_SCHEMA)
        self.assertEqual(docs.column("n_chars").to_pylist(),
                         [len(t) for t in docs.column("text").to_pylist()])
        emb = gen.tables("dedup-dense", 1)["embeddings"]
        self.assertEqual(emb.schema, gen.EMB_SCHEMA)
        self.assertEqual({len(v) for v in emb.column("embedding").to_pylist()}, {gen.DIM})


class InputPropertyTest(unittest.TestCase):
    def test_each_workload_has_its_property(self):
        for w in run.WORKLOADS:
            d = gen.write(w, 5, os.path.join(SCRATCH, f"{w}-p"))
            ok, facts = props.check(w, d)
            self.assertTrue(ok, f"{w}: {facts}")

    def test_properties_tell_the_corpora_apart(self):
        # the dup-light corpus fails the dup-dense rule and vice versa
        light = gen.tables("etl-wikibooks", 5)["documents"].column("text").to_pylist()
        dense = gen.tables("dedup-dense", 5)["documents"].column("text").to_pylist()
        self.assertEqual(min(props.near_dup_partners(light)), 0)
        self.assertGreater(sum(props.near_dup_partners(dense)) // 2, len(dense) // 1000)

    def test_near_dup_partners_counts_verified_pairs(self):
        base = " ".join(gen.VOCAB[i % 31] for i in range(60))
        other = " ".join(gen.VOCAB[(7 * i) % 31] for i in range(60))
        near = base.replace("a agg", "agg a", 1)
        self.assertEqual(props.near_dup_partners([base, near, other]), [1, 1, 0])


class DigestTest(unittest.TestCase):
    t = pa.table({"k": pa.array([3, 1, 2], pa.int64()),
                  "v": pa.array([0.5, None, 2.25]),
                  "m": pa.array([[(1, 2), (0, 5)], [], [(4, 4)]],
                                pa.map_(pa.int64(), pa.int64()))})

    def test_ignores_row_and_column_order(self):
        shuffled = self.t.take([2, 0, 1]).select(["v", "m", "k"])
        self.assertEqual(oracle.digest(self.t), oracle.digest(shuffled))

    def test_ignores_map_entry_order_and_numeric_type(self):
        other = pa.table({"k": pa.array([3.0, 1.0, 2.0]),
                          "v": pa.array([0.5, float("nan"), 2.25]),
                          "m": pa.array([[(0, 5), (1, 2)], [], [(4, 4)]],
                                        pa.map_(pa.int64(), pa.int64()))})
        self.assertEqual(oracle.digest(self.t), oracle.digest(other))

    def test_sees_a_changed_value_or_column_name(self):
        changed = self.t.set_column(1, "v", pa.array([0.5, None, 2.2500001]))
        renamed = self.t.rename_columns(["k", "w", "m"])
        self.assertNotEqual(oracle.digest(self.t), oracle.digest(changed))
        self.assertNotEqual(oracle.digest(self.t), oracle.digest(renamed))

    def test_token_vectors_render_like_q17(self):
        t = pa.table({"doc_id": [7], "compressed_token_vector": pa.array(
            [[(12, 1), (3, 2)]], pa.map_(pa.int32(), pa.int64()))})
        self.assertEqual(oracle.token_vector_strings(t).column(1).to_pylist(),
                         ["3:2,12:1"])


class MetricNameTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_names_and_units_are_well_formed(self):
        metrics = self.bench["end_to_end"] + self.bench["per_layer"]
        names = [m["name"] for m in metrics] + [w["name"] for w in self.bench["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for m in metrics:
            self.assertRegex(m["unit"], r"^[A-Za-z0-9_/%.-]{1,16}$")

    def test_launcher_reports_exactly_the_declared_metrics(self):
        e2e = {m["name"]: m["unit"] for m in self.bench["end_to_end"]}
        self.assertEqual(set(e2e), set(run.END_TO_END))
        self.assertEqual(e2e, {k: run.UNITS[k] for k in e2e})
        for m in self.bench["per_layer"]:
            self.assertEqual(run.layer_unit(m["name"]), m["unit"], m["name"])

    def test_per_layer_covers_every_module(self):
        names = {m["name"] for m in self.bench["per_layer"]}
        for mod in ("Tables", "TokenPipeline", "Hierarchy", "TextAnalysis", "Dedup",
                    "Sketches", "Similarity", "Pipeline"):
            for suffix in ("wall_s", "driver_s", "cpu_s", "gc_s", "sched_delay_s", "jobs",
                           "tasks", "shuffle_write_mb", "spill_mb", "peak_exec_mem_mb",
                           "rows_in", "rows_out", "index_wall_s", "warm_wall_s"):
                self.assertIn(f"{mod}.{suffix}", names)


class ListenerAttributionTest(unittest.TestCase):
    def test_span_sums_equal_run_totals(self):
        cp = run.build()
        d = os.path.join(SCRATCH, "attribution")
        for sub in ("tmp", "local", "warehouse"):
            os.makedirs(os.path.join(d, sub), exist_ok=True)
        cmd = run.java_cmd(cp, d, "graft.perfbench.AttributionCheck", [])
        out = subprocess.run(cmd, cwd=d, capture_output=True, text=True, timeout=300,
                             env=dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(d, "local")))
        self.assertIn("ATTRIBUTION_OK", out.stdout, out.stdout + out.stderr[-2000:])


if __name__ == "__main__":
    unittest.main()
