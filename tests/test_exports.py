"""Package-surface contract: everything __all__ promises exists, and the
README quick-start imports keep working."""

from __future__ import annotations


def test_all_exports_resolve():
    import kaer_spark as k

    missing = [n for n in k.__all__ if not hasattr(k, n)]
    assert not missing, missing


def test_readme_quickstart_imports():
    from kaer_spark import (  # noqa: F401
        KaerContext,
        bigram_lm_fit,
        bigram_lm_scores,
        dedup_against,
        dsir_scores,
        duplicate_passages,
        get_spark,
        overlap_fraction,
        perplexity_buckets,
        token_budget_mix,
        token_budget_pipeline,
    )
    from kaer_spark.context import Collection

    assert callable(Collection.deduplicate_against)


def test_diag_java_options_gate_on_jdk_major(monkeypatch, tmp_path):
    """ADVICE r16: -Xlog:gc* (JDK9+ unified logging) aborts a JDK 8 JVM
    at startup — the GC diag flag must follow the detected dialect."""
    from kaer_spark import session as sess

    monkeypatch.setattr(sess, "_DIAG_DIR", str(tmp_path / "diag"))
    monkeypatch.setattr(sess, "_java_major", lambda: 8)
    opts = sess._diag_java_options()
    assert "-Xloggc:" in opts and "-Xlog:gc*" not in opts
    assert "-XX:ErrorFile=" in opts
    monkeypatch.setattr(sess, "_java_major", lambda: 17)
    assert "-Xlog:gc*" in sess._diag_java_options()
    # undetectable → modern syntax (this engine pins Spark on 17+)
    monkeypatch.setattr(sess, "_java_major", lambda: None)
    assert "-Xlog:gc*" in sess._diag_java_options()
    # version-string parsing: pre-9 "1.x" scheme and modern scheme
    assert sess._parse_java_major('"1.8.0_392"') == 8
    assert sess._parse_java_major("17.0.9") == 17


#: Public names that no declared query (``__spark_entry__.py``),
#: ``bench.py``, ``perfbench/``, ``tools/`` or other engine code reaches,
#: kept on purpose: name -> reason.
KEEP = {
    "context_from_config": "the analogue of kaer's config/config.go",
    "materialize_rollup": "the write side of the declared rollup artifact",
    "read_rollup": "the read side of the declared rollup artifact",
    "has_broadcast_join": "the plan-shape tests' assertion helper",
    "stream_neardup_ingest": "the stream driver of neardup_ingest_batch",
    "stream_embedding_neardup_ingest":
        "the stream driver of embedding_neardup_ingest_batch",
    "decontaminate": "the exact screen bloom_decontaminate is checked against",
    "open_table": "the jar-gated lakehouse reader the sources docstring names",
    "read_events": "the tests' nanosAsLong events fixture reader",
    "time_bucket_join": "the keyless band join of the interval family",
}


def _unreached() -> list[str]:
    """The public engine names (every ``__all__`` entry of the package and
    its sub-packages, and every public top-level def or class of an engine
    module) that no declared caller references. A caller references a name
    by a word match in the entry, bench, perfbench and tools sources
    (tests excluded), or by code (not a docstring or comment) in an engine
    module, outside the name's own definition and the ``__init__``
    re-exports."""
    import ast
    import importlib
    import pathlib
    import re

    import kaer_spark

    pkg = pathlib.Path(kaer_spark.__file__).parent
    root = pkg.parent
    callers = [root / "__spark_entry__.py", root / "bench.py"]
    for d in ("perfbench", "tools"):
        callers += [
            p for p in sorted((root / d).rglob("*.py"))
            if not p.name.startswith("test_")
        ]
    text = "\n".join(p.read_text(encoding="utf-8") for p in callers)
    homes: dict[str, set[str]] = {
        n: set()
        for sub in ("", ".functions", ".operators", ".plans", ".sources")
        for n in importlib.import_module("kaer_spark" + sub).__all__
    }
    # name -> {(module, top-level def or class that references it)}
    used: dict[str, set[tuple[str, str | None]]] = {}
    for path in pkg.rglob("*.py"):
        if path.name == "__init__.py":
            continue
        for node in ast.parse(path.read_text(encoding="utf-8")).body:
            owner = getattr(node, "name", None)
            if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                if not owner.startswith("_"):
                    homes.setdefault(owner, set()).add(str(path))
            for n in ast.walk(node):
                if isinstance(n, ast.Name):
                    ref = n.id
                elif isinstance(n, ast.Attribute):
                    ref = n.attr
                elif isinstance(n, ast.alias):
                    ref = n.asname or n.name.rpartition(".")[2]
                else:
                    continue
                used.setdefault(ref, set()).add((str(path), owner))
    return sorted(
        name
        for name, defined_in in homes.items()
        if not re.search(rf"\b{re.escape(name)}\b", text)
        and all(m in defined_in and o == name for m, o in used.get(name, ()))
    )


def test_public_surface_is_reached():
    """Every public engine name is reached by a declared caller or is in
    KEEP with its reason, and every KEEP entry is still unreached, so the
    list shrinks as the surface does."""
    unreached = _unreached()
    assert sorted(set(unreached) - set(KEEP)) == []
    assert sorted(set(KEEP) - set(unreached)) == []
