"""Workload definitions and input generation.

The partition test lists Registry.all through the benchmark's JVM driver,
so it builds the program first (about 20 s). Run from the repository
root: python3 -m unittest discover perfbench/tests
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import datagen  # noqa: E402
import run  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "workloads.json")) as f:
    WORKLOADS = json.load(f)
TRAINERS = {"MfTrainer.train", "PaTrainer.train"}


class Partition(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cp = run.build()
        out = subprocess.run(["java", "-cp", cp, "perfbench.Driver", "--list"],
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                             text=True, check=True).stdout
        cls.registry = dict(line.split("\t") for line in out.splitlines() if line)

    def test_members_partition_registry_all(self):
        """Each Registry.all qid belongs to exactly one workload: a new qid
        fails here until it is assigned."""
        members = [q for w in WORKLOADS.values() for q in w["members"]]
        self.assertEqual(len(members), len(set(members)), "a qid is in two workloads")
        self.assertEqual(set(members), set(self.registry),
                         "unassigned: %s; unknown: %s" % (
                             sorted(set(self.registry) - set(members)),
                             sorted(set(members) - set(self.registry))))

    def test_llm_workload_is_the_llm_module(self):
        self.assertEqual(set(WORKLOADS["corpus_llm"]["members"]),
                         {q for q, m in self.registry.items() if m == "LlmPipeline"})

    def test_ops_are_members_in_name_order(self):
        for name, w in WORKLOADS.items():
            self.assertEqual(w["ops"], sorted(w["ops"]), name)
            self.assertTrue(set(w["ops"]) <= set(w["members"]) | TRAINERS, name)

    def test_trainers_are_timed(self):
        self.assertTrue(TRAINERS <= set(WORKLOADS["iterative_state"]["ops"]))


class Inputs(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            digests = []
            for i, seed in enumerate((5, 5, 6)):
                out = os.path.join(d, str(i))
                props = datagen.generate(out, "iterative_state", seed)
                digests.append(run.tree_digest(out))
            self.assertEqual(digests[0], digests[1])
            self.assertNotEqual(digests[0], digests[2])
            self.assertEqual(props["ratings"]["rows"], datagen.WORKLOADS["iterative_state"]["ratings"])

    def test_planted_duplicates(self):
        with tempfile.TemporaryDirectory() as d:
            props = datagen.generate(d, "corpus_llm", 1)["documents"]
            cfg = datagen.WORKLOADS["corpus_llm"]
            self.assertEqual(props["rows"], cfg["docs"])
            self.assertEqual(props["planted_dups"], round(cfg["docs"] * cfg["dup_share"]))


if __name__ == "__main__":
    unittest.main()
