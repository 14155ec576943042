"""Tests and tools run against the checkout they live in.

An A/B run keeps two checkouts of the repository side by side; each one's
suite and tools must import that checkout's ``wukong_spark``, never a copy
at a fixed path.
"""

from __future__ import annotations

import ast
import glob
import os

import wukong_spark

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_package_imported_from_this_checkout():
    pkg = os.path.realpath(wukong_spark.__file__)
    assert pkg.startswith(os.path.realpath(ROOT) + os.sep), (pkg, ROOT)


def test_no_fixed_checkout_path_on_sys_path():
    """Every ``sys.path.insert`` in tests/ and tools/ derives its entry
    (from ``__file__`` or the environment) — none is a string literal."""
    fixed = []
    for path in glob.glob(os.path.join(ROOT, "tests", "*.py")) + glob.glob(
        os.path.join(ROOT, "tools", "*.py")
    ):
        with open(path) as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "insert"
                and ast.unparse(node.func.value) == "sys.path"
                and isinstance(node.args[-1], ast.Constant)
            ):
                fixed.append(f"{os.path.relpath(path, ROOT)}:{node.lineno}")
    assert not fixed, fixed
