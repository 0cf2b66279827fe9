"""tools/clones.py counts second and later copies of 10 normalized lines (no Spark)."""

import importlib.util
import os

_spec = importlib.util.spec_from_file_location(
    "clones", os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "clones.py"))
clones = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(clones)


def _block(n: int, tag: str) -> str:
    return "".join(f"{tag}_{i} = compute({i}, 'x')\n" for i in range(n))


def test_planted_ten_line_copy_counts_ten():
    src = {"a.py": _block(10, "v") + "other = 1\n", "b.py": "x = 0\n" + _block(10, "v")}
    assert clones.clone_lines(src) == {"b.py": 10}


def test_copy_differing_only_in_comments_and_indentation_counts_ten():
    copy = "".join(f"    # note {i}\n        {line}   \n\n" for i, line in enumerate(_block(10, "v").splitlines()))
    assert clones.clone_lines({"a.py": _block(10, "v"), "b.py": "if True:\n" + copy}) == {"b.py": 10}


def test_nine_line_copy_counts_zero():
    assert clones.clone_lines({"a.py": _block(9, "v") + "a = 1\n", "b.py": _block(9, "v") + "b = 2\n"}) == {}


def test_copy_within_one_file_counts_second_copy_only():
    src = {"a.py": _block(12, "v") + "sep = 1\n" + _block(12, "v")}
    assert clones.clone_lines(src) == {"a.py": 12}
