"""Self-tests of the JVM side: the EduFlow generator's determinism and the
op runner's failure accounting (graftbench.SelfTest). Builds the harness
first if needed, like run.py.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402


class JvmSelfTest(unittest.TestCase):
    def test_selftest(self):
        cp = run.build()
        cmd = ["java"] + [a for p in run.ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
            "-Xmx1g", "-Dspark.ui.enabled=false", "-cp", cp, "graftbench.Harness", "selftest",
            str(run.BUILD / "selftest"), json.loads((HERE / "workloads.json").read_text())["data"]]
        out = subprocess.run(cmd, cwd=run.ROOT, capture_output=True, text=True, timeout=300)
        self.assertEqual(out.returncode, 0, out.stdout + out.stderr[-3000:])
        self.assertIn("[selftest] ok: same seed gives byte-identical files", out.stdout)
        self.assertIn("[selftest] ok: a throwing op fails", out.stdout)


if __name__ == "__main__":
    unittest.main()
