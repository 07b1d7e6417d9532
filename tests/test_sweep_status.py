"""tools/sweep_status.py: a sweep record is fresh only while the query
surface matches the head it was logged under — committed changes since
that head and uncommitted edits both make it stale, and a tree with
uncommitted edits has no head to log a sweep under."""

import json
import subprocess

import pytest

from tools.sweep_status import clean_head, latest_sf01_sweep


def _git(root, *args):
    return subprocess.run(
        ["git", "-C", str(root), "-c", "user.name=t", "-c", "user.email=t@t",
         *args],
        capture_output=True, text=True, check=True,
    ).stdout.strip()


@pytest.fixture
def repo(tmp_path):
    pkg = tmp_path / "kafka_avro_pipeline_java_spark"
    pkg.mkdir()
    (pkg / "plans.py").write_text("X = 1\n")
    (tmp_path / "README.md").write_text("docs\n")
    _git(tmp_path, "init", "-q")
    _git(tmp_path, "add", "-A")
    _git(tmp_path, "commit", "-q", "-m", "seed")
    head = _git(tmp_path, "rev-parse", "--short", "HEAD")
    (tmp_path / "SWEEPLOG.jsonl").write_text(json.dumps(
        {"sf_dir": "/data/sf0.1", "match": 3, "mismatch": 0, "gated": 0,
         "head": head}) + "\n")
    return tmp_path, head


def test_clean_tree_is_fresh_and_has_a_head(repo):
    root, head = repo
    assert clean_head(str(root)) == head
    sw = latest_sf01_sweep(str(root))
    assert sw["head"] == head and sw["stale"] is False


def test_doc_edit_does_not_dirty_the_query_surface(repo):
    root, head = repo
    (root / "README.md").write_text("more docs\n")
    assert clean_head(str(root)) == head
    assert latest_sf01_sweep(str(root))["stale"] is False


def test_uncommitted_package_edit_is_stale_and_headless(repo):
    root, _ = repo
    (root / "kafka_avro_pipeline_java_spark" / "plans.py").write_text("X = 2\n")
    assert clean_head(str(root)) is None
    assert latest_sf01_sweep(str(root))["stale"] is True


def test_untracked_package_file_is_stale_and_headless(repo):
    root, _ = repo
    (root / "kafka_avro_pipeline_java_spark" / "new.py").write_text("Y = 1\n")
    assert clean_head(str(root)) is None
    assert latest_sf01_sweep(str(root))["stale"] is True


def test_committed_change_is_stale_under_a_new_head(repo):
    root, head = repo
    (root / "kafka_avro_pipeline_java_spark" / "plans.py").write_text("X = 2\n")
    _git(root, "commit", "-q", "-am", "change")
    new_head = clean_head(str(root))
    assert new_head is not None and new_head != head
    assert latest_sf01_sweep(str(root))["stale"] is True


def test_tools_put_their_own_checkout_on_sys_path():
    """A tool run from a copy of the repository (say, the parent commit
    unpacked elsewhere) must import that copy's package and entry, so no
    tool may put a fixed path literal on ``sys.path``."""
    import ast
    import pathlib

    tools = pathlib.Path(__file__).resolve().parent.parent / "tools"
    fixed = []
    for path in sorted(tools.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if (isinstance(node, ast.Call)
                    and ast.unparse(node.func) == "sys.path.insert"
                    and any(isinstance(a, ast.Constant)
                            and isinstance(a.value, str)
                            for a in node.args)):
                fixed.append(f"{path.name}:{node.lineno}")
    assert fixed == []
