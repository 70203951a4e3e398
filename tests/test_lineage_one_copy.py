"""Source invariants of the lineage discipline: one barrier primitive,
one stored copy per round.

``plans/lineage.barrier`` stores a round's state once, as a lazy
``localCheckpoint``, and releases the previous round. A ``persist()``
chained onto a checkpoint stores the round twice (and its
``unpersist()`` leaves the checkpoint blocks behind); a hand-rolled
lazy checkpoint outside ``barrier`` is a second loop discipline. These
scans keep both from coming back. No Spark needed.
"""

from __future__ import annotations

import inspect
import io
import re
import tokenize
from pathlib import Path

import incubator_hugegraph_computer_spark as pkg
from incubator_hugegraph_computer_spark.plans import lineage

PKG = Path(pkg.__file__).parent
TESTS = Path(__file__).parent

CHECKPOINT_PERSIST = re.compile(r"localCheckpoint\([^()]*\)\s*\)?\s*\.persist\(")
LAZY_CHECKPOINT = re.compile(r"localCheckpoint\(\s*eager\s*=\s*False\s*\)")
# betweenness's backward delta levels stay lazy between counts: one
# count per 8 levels (PLANS.md), so they cannot each pass a barrier
LAZY_ALLOWED = {"plans/lineage.py": 1, "operators/betweenness.py": 1}
RETIRED = {"advance", "advance_counted", "advance_agg"}


def _sources(root: Path):
    return sorted(p for p in root.rglob("*.py") if "__pycache__" not in p.parts)


def test_no_checkpoint_chained_into_persist():
    hits = [
        f"{p.relative_to(PKG)}:{p.read_text()[: m.start()].count(chr(10)) + 1}"
        for p in _sources(PKG)
        for m in CHECKPOINT_PERSIST.finditer(p.read_text())
    ]
    assert not hits, f"checkpoint stored twice (chained persist) at {hits}"


def test_lazy_checkpoints_only_in_barrier():
    found = {}
    for p in _sources(PKG):
        n = len(LAZY_CHECKPOINT.findall(p.read_text()))
        if n:
            found[p.relative_to(PKG).as_posix()] = n
    assert found == LAZY_ALLOWED, found


def test_lineage_exports_only_barrier_and_release():
    functions = {
        name
        for name, obj in vars(lineage).items()
        if inspect.isfunction(obj)
        and obj.__module__ == lineage.__name__
        and not name.startswith("_")
    }
    assert functions == {"barrier", "release"}


def test_retired_advance_names_are_gone():
    hits = []
    for p in _sources(PKG) + _sources(TESTS):
        toks = tokenize.generate_tokens(io.StringIO(p.read_text()).readline)
        hits += [
            f"{p.name}:{t.start[0]}"
            for t in toks
            if t.type == tokenize.NAME and t.string in RETIRED
        ]
    assert not hits, hits
