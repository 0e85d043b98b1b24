"""``scripts/check_oracle.py`` checks the checkout it lives in: a copy of
the repo (a second clone, an exported parent commit for an A/B) must
import its own ``__spark_entry__``, not another checkout's."""

import pathlib
import shutil
import subprocess
import sys

SCRIPT = pathlib.Path(__file__).resolve().parent.parent / "scripts" / "check_oracle.py"

LOAD = """
import importlib.util, sys
spec = importlib.util.spec_from_file_location("check_oracle", sys.argv[1])
mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(mod)
print(mod.entrymod.__file__)
print(mod.entrymod.MARKER)
"""


def test_oracle_imports_the_entry_module_of_its_own_root(tmp_path):
    root = tmp_path / "copy"
    (root / "scripts").mkdir(parents=True)
    shutil.copy(SCRIPT, root / "scripts" / "check_oracle.py")
    marker = root / "__spark_entry__.py"
    marker.write_text("MARKER = 'copy'\n")
    elsewhere = tmp_path / "elsewhere"
    elsewhere.mkdir()
    out = subprocess.run(
        [sys.executable, "-c", LOAD, str(root / "scripts" / "check_oracle.py")],
        cwd=elsewhere,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.split() == [str(marker), "copy"]
