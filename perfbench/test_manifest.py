"""The benchmark's own tests: the workload manifest must name real queries,
each in one workload only.

    python3 perfbench/test_manifest.py
"""
import os
import subprocess
import sys
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402


def jvm_check(workloads):
    """Exit code and stderr of the harness's check that every listed name
    is in SparkEntry.allQueries."""
    cp, _ = build.build()
    names = [n for entries in workloads.values() for n, _ in entries]
    r = subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp, "perfbench.PerfBench",
                        "--mode", "manifest", "--queries", ",".join(names)],
                       capture_output=True, text=True, timeout=300)
    return r.returncode, r.stderr


class ManifestTest(unittest.TestCase):

    def test_every_name_exists(self):
        rc, err = jvm_check(run.manifest())
        self.assertEqual(rc, 0, err)

    def test_no_name_is_listed_twice(self):
        self.assertEqual(run.manifest_problems(run.manifest()), [])

    def test_checks_reject_unknown_and_repeated_names(self):
        bad = os.path.join(build.OUT, "bad_manifest.txt")
        os.makedirs(build.OUT, exist_ok=True)
        with open(bad, "w") as f:
            f.write("[a]\nq01_scan_filter_project\nq999_renamed_away  # anchor: gone\n"
                    "[b]\nq01_scan_filter_project\n[c]\n")
        workloads = run.manifest(bad)
        self.assertEqual(workloads["a"][1], ("q999_renamed_away", "gone"))
        rc, err = jvm_check(workloads)
        self.assertEqual(rc, 1)
        self.assertIn("q999_renamed_away is not in SparkEntry.allQueries", err)
        self.assertNotIn("q01_scan_filter_project is not", err)
        self.assertEqual(run.manifest_problems(workloads),
                         ["q01_scan_filter_project is listed more than once (a, b)",
                          "c lists no query"])


if __name__ == "__main__":
    unittest.main()
