"""The command-line tools under ``tools/`` import the package of their
own checkout, never a fixed install path: the benchmark imports
``tools.check_oracle`` before ``prox_spark``, so a tool that put another
checkout first on ``sys.path`` would measure that checkout's code."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_check_oracle_imports_its_own_checkout(tmp_path):
    # a second checkout: the tool plus the package, nothing else
    copy = tmp_path / "checkout"
    for pkg in ("tools", "prox_spark"):
        shutil.copytree(
            os.path.join(ROOT, pkg), copy / pkg,
            ignore=shutil.ignore_patterns("__pycache__"),
        )
    code = (
        "import os, sys; sys.path.insert(0, sys.argv[1]); "
        "import tools.check_oracle as t; import prox_spark; "
        "print(os.path.dirname(os.path.dirname(os.path.abspath(t.__file__)))); "
        "print(os.path.abspath(prox_spark.__file__))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code, str(copy)],
        cwd=tmp_path, check=True, capture_output=True, text=True,
    ).stdout.split("\n")
    tool_root, pkg_file = out[0], out[1]
    assert tool_root == str(copy)
    assert pkg_file.startswith(tool_root + os.sep), (tool_root, pkg_file)
