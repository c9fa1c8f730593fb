"""Guard: every top-level def/class in imagor_spark/ has a caller outside tests/."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ALLOWED = {
    "shingles": "oracle twin of the fused shingle/MinHash path",
    "minhash_signatures": "oracle twin of the fused shingle/MinHash path",
    "jaccard_pairs": "oracle twin of the array-based Jaccard rerank",
    "snr_db": "test oracle for decoded-PCM fidelity",
    "encode_fake_video": "test fixture that builds video payloads",
    "ingest_uploads": "user entry point for landing raw uploads",
    "ensure_shipped": "user entry point for shipping the package to a cluster",
}


def _py(*parts):
    for p in map(ROOT.joinpath, parts):
        yield from p.rglob("*.py") if p.is_dir() else [p]


def test_every_definition_has_a_production_caller():
    used = set()
    for path in _py("imagor_spark", "__spark_entry__.py", "bench.py", "perfbench", "tools"):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Name):
                used.add(node.id)
            elif isinstance(node, ast.Attribute):
                used.add(node.attr)
            elif isinstance(node, ast.ImportFrom):
                used.update(a.name for a in node.names)
    unused = sorted(
        f"{path.relative_to(ROOT)}::{node.name}"
        for path in _py("imagor_spark")
        for node in ast.parse(path.read_text()).body
        if isinstance(node, (ast.FunctionDef, ast.ClassDef))
        and node.name not in used and node.name not in ALLOWED
    )
    assert not unused, unused
