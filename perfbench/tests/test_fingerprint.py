"""Fingerprint stability: builds the harness and runs its fingerprint
self-check on a local Spark session.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import build  # noqa: E402
import run  # noqa: E402


class FingerprintStability(unittest.TestCase):
    def test_fingerprint_check(self):
        classes = build.build()
        os.makedirs(build.BUILD_DIR, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=build.BUILD_DIR) as tmp:
            cmd = (["java", "-Xmx1g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
                   + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in run.JDK17_OPENS]
                   + ["-cp", os.pathsep.join([os.path.join(build.spark_jars(), "*"), classes]),
                      "perfbench.FingerprintCheck"])
            r = subprocess.run(cmd, cwd=tmp, capture_output=True, text=True, timeout=300)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        self.assertIn("fingerprint check passed", r.stdout)


if __name__ == "__main__":
    unittest.main()
