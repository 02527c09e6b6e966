"""Query digests are stable: two passes in one session agree with each
other and with the recorded ``mix_digests.json``. Starts the benchmark JVM
(about a minute at 4 cores), so it runs only with PERFBENCH_JVM_TESTS=1.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@unittest.skipUnless(os.environ.get("PERFBENCH_JVM_TESTS") == "1", "set PERFBENCH_JVM_TESTS=1")
class DigestStabilityTest(unittest.TestCase):
    def test_two_passes_match_the_recorded_digests(self):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", "pipeline_mix",
                            "--seed", "0", "--seconds", "1", "--digest-passes", "2"],
                           cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=600)
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        out = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertTrue(out["stable"])
        with open(os.path.join(HERE, "mix_digests.json")) as f:
            recorded = json.load(f)["digests"]
        with open(os.path.join(HERE, "mix.json")) as f:
            self.assertEqual(sorted(recorded), sorted(json.load(f)["ids"]))
        self.assertEqual(out["passes"][0], recorded)


if __name__ == "__main__":
    unittest.main()
