"""The commit recorded with every result, from loose and packed refs.

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402

SHA = "0123456789abcdef0123456789abcdef01234567"


def _git(tmp_path, head):
    git = tmp_path / ".git"
    git.mkdir()
    (git / "HEAD").write_text(head + "\n")
    return git


def test_loose_ref(tmp_path):
    git = _git(tmp_path, "ref: refs/heads/main")
    (git / "refs" / "heads").mkdir(parents=True)
    (git / "refs" / "heads" / "main").write_text(SHA + "\n")
    assert run._git_commit(str(git)) == SHA


def test_packed_ref(tmp_path):
    git = _git(tmp_path, "ref: refs/heads/main")
    (git / "packed-refs").write_text(
        "# pack-refs with: peeled fully-peeled sorted\n"
        f"{'f' * 40} refs/heads/other\n"
        f"{SHA} refs/heads/main\n"
    )
    assert run._git_commit(str(git)) == SHA


def test_detached_head_and_no_checkout(tmp_path):
    assert run._git_commit(str(_git(tmp_path, SHA))) == SHA
    assert run._git_commit(str(tmp_path / "missing")) == "unknown"
