"""Tooling guard: the sync CLI and the streaming sync write the signal
table (``--out``) only through io/sinks.write_signals, the one merge.

An AST walk of job/main.py and streaming/sync_stream.py fails on any
other writer: a ``writeStream`` file sink (``.format(...)``), a DataFrame
``.write``, a txlog commit, or a call that hands the output path to a
function other than write_signals or the stream that calls it."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "es_ch_sync_spark"
MAIN = PKG / "job" / "main.py"
STREAM = PKG / "streaming" / "sync_stream.py"

# writers that bypass the merge: txlog commits and the stage-and-swap
BYPASS = {
    "txlog_append", "txlog_overwrite", "txlog_merge", "txlog_update",
    "txlog_delete", "_stage_and_swap", "_commit_rewrite",
}
# what may receive the output path: the merge, and the stream's wrappers
# of it in sync_stream.py (checked below to write through it alone)
OUT_TAKERS = {"write_signals", "start_signal_stream", "merge_batch", "refuse_file_sink_log"}


def _name(func: ast.expr) -> str:
    if isinstance(func, ast.Attribute):
        return func.attr
    return func.id if isinstance(func, ast.Name) else ""


def _calls(path: Path) -> list[ast.Call]:
    return [n for n in ast.walk(ast.parse(path.read_text())) if isinstance(n, ast.Call)]


def _is_out_path(node: ast.expr, names: set[str]) -> bool:
    if isinstance(node, ast.Attribute):  # args.out
        return node.attr == "out" and isinstance(node.value, ast.Name) and node.value.id == "args"
    return isinstance(node, ast.Name) and node.id in names


def _chain_has(node: ast.expr, attr: str) -> bool:
    while isinstance(node, (ast.Attribute, ast.Call)):
        if isinstance(node, ast.Attribute) and node.attr == attr:
            return True
        node = node.value if isinstance(node, ast.Attribute) else node.func
    return False


def _violations(path: Path, out_names: set[str]) -> list[str]:
    bad = []
    for call in _calls(path):
        name = _name(call.func)
        line = f"{path.name}:{call.lineno} {name}"
        if name in BYPASS or name in ("start_signal_sink", "txlog_stream_writer"):
            bad.append(f"{line}: writes around write_signals")
        if name == "format" and _chain_has(call.func, "writeStream"):
            bad.append(f"{line}: a writeStream sink other than foreachBatch")
        passed = [*call.args, *(k.value for k in call.keywords)]
        if any(_is_out_path(a, out_names) for a in passed) and name not in OUT_TAKERS:
            bad.append(f"{line}: hands the output path to {name}")
    return bad


def test_main_writes_out_only_through_write_signals():
    assert _violations(MAIN, set()) == []


def test_sync_stream_writes_only_through_write_signals():
    tree = ast.parse(STREAM.read_text())
    out_names = {"out_path"}
    assert _violations(STREAM, out_names) == []
    # the stream's only DataFrame writer is foreachBatch → write_signals
    attrs = {n.attr for n in ast.walk(tree) if isinstance(n, ast.Attribute)}
    assert "write" not in attrs
    assert {_name(c.func) for c in _calls(STREAM)} >= {"foreachBatch", "write_signals"}


def test_guard_catches_the_writers_it_forbids(tmp_path):
    """The walk flags a file sink, a txlog append and a plain write of
    args.out."""
    src = tmp_path / "bad.py"
    src.write_text(
        "def main(args, signals):\n"
        "    signals.writeStream.format('parquet').option('path', args.out).start()\n"
        "    txlog_append(signals, args.out)\n"
        "    signals.write.parquet(args.out)\n"
    )
    bad = _violations(src, set())
    assert any("writeStream sink" in b for b in bad)
    assert any("txlog_append" in b for b in bad)
    assert any("hands the output path to parquet" in b for b in bad)
