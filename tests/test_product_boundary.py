"""The product boundary: every module under ``news_rss_spark/`` is reached
by an import walk from the ingestion entry points, the query contract
(``__spark_entry__.py``) imports nothing outside that closure, the
product never imports the corpus operators (``corpus_lab/``) that are
built on top of it, and those import only the public product names in
``CORPUS_LAB_MAY_IMPORT``, so the product's internals can change without
them.

The walk reads source with ``ast``, so imports inside function bodies
(lazy imports) count, and no module is executed.  A module that no
ingestion path, registry helper or benchmark imports fails the first
test; move it to ``corpus_lab`` (with its tests) or wire it into a
product path.
"""

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "news_rss_spark"

ROOTS = [
    "news_rss_spark.plans.pipeline",          # batch + raw-XML feed job
    "news_rss_spark.streaming.stream",        # the availableNow poller
    "news_rss_spark.sources.rss_xml",         # S1 feed parse
    "news_rss_spark.sources.registry",        # S7/P10/C2/C4
    "news_rss_spark.functions.semantic_blocks",  # L4-L6
]


# the only product names corpus_lab may import
CORPUS_LAB_MAY_IMPORT = {
    "news_rss_spark.EXTRACTOR_VERSION",
    "news_rss_spark.operators.lineage.lineage_rows",
    "news_rss_spark.operators.lineage.with_bucket",
    "news_rss_spark.operators.lineage.DEFAULT_N_BUCKETS",
    "news_rss_spark.plans.pipeline.JobResult",
    "news_rss_spark.plans.pipeline.run_extraction_job",
    "news_rss_spark.kernel.htmlx.Node",
    "news_rss_spark.kernel.htmlx.build_dom",
    "news_rss_spark.kernel.htmlx.decode_entities",
    "news_rss_spark.kernel.htmlx.tokenize",
    "news_rss_spark.kernel.htmlx.extract_page_spans",
    "news_rss_spark.sources.synth.SPANS_DDL",
    "news_rss_spark.sources.synth.generate_documents",
}


def _path(mod: str) -> str | None:
    base = os.path.join(REPO, *mod.split("."))
    if os.path.isdir(base):
        return os.path.join(base, "__init__.py")
    return base + ".py" if os.path.exists(base + ".py") else None


def _import_pairs(path: str, mod: str) -> set[tuple[str, str | None]]:
    """``(module, name)`` for every import anywhere in ``path``'s body:
    ``name`` is what ``from module import name`` imports, None for a
    plain ``import module``."""
    pkg = mod if path.endswith("__init__.py") else mod.rpartition(".")[0]
    pairs = set()
    for node in ast.walk(ast.parse(open(path).read())):
        if isinstance(node, ast.Import):
            pairs.update((a.name, None) for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = pkg.split(".")
                base = ".".join(parts[:len(parts) - node.level + 1]
                                + ([node.module] if node.module else []))
            pairs.update((base, a.name) for a in node.names)
    return pairs


def _named(path: str, mod: str) -> set[str]:
    """Every dotted name ``path`` imports anywhere in its body."""
    named = set()
    for base, name in _import_pairs(path, mod):
        named.add(base)
        if name:
            # ``from pkg import mod`` names a module, not only an attribute
            named.add(f"{base}.{name}")
    return named


def _imports(path: str, mod: str) -> set[str]:
    """Package modules ``path`` imports anywhere in its body, with their
    parent packages (importing ``a.b.c`` runs ``a`` and ``a.b`` too)."""
    return {m for name in _named(path, mod)
            if name == PKG or name.startswith(PKG + ".")
            for m in _with_parents(name)}


def _with_parents(name: str) -> set[str]:
    parts = name.split(".")
    return {".".join(parts[:i]) for i in range(1, len(parts) + 1)
            if _path(".".join(parts[:i]))}


def _closure() -> set[str]:
    todo = [m for root in ROOTS for m in _with_parents(root)]
    for f in glob.glob(os.path.join(REPO, "ingestbench", "*.py")):
        todo.extend(_imports(f, "ingestbench." + os.path.basename(f)[:-3]))
    seen = set()
    while todo:
        mod = todo.pop()
        if mod not in seen:
            seen.add(mod)
            todo.extend(_imports(_path(mod), mod))
    return seen


def _package_modules() -> set[str]:
    mods = set()
    for f in glob.glob(os.path.join(REPO, PKG, "**", "*.py"), recursive=True):
        mod = os.path.relpath(f, REPO)[:-3].replace(os.sep, ".")
        mods.add(mod.removesuffix(".__init__"))
    return mods


def test_every_package_module_is_reached():
    unreached = sorted(_package_modules() - _closure())
    assert unreached == [], (
        f"modules no ingestion path imports: {unreached}")


def test_entry_contract_imports_only_reached_modules():
    entry = os.path.join(REPO, "__spark_entry__.py")
    outside = sorted(_imports(entry, "__spark_entry__") - _closure())
    assert outside == [], (
        f"__spark_entry__.py imports modules outside the boundary: {outside}")


def test_product_never_imports_corpus_lab():
    back = sorted(mod for mod in _package_modules()
                  if any(n.split(".")[0] == "corpus_lab"
                         for n in _named(_path(mod), mod)))
    assert back == [], f"product modules importing corpus_lab: {back}"


def test_corpus_lab_imports_only_public_product_names():
    bad = set()
    for f in glob.glob(os.path.join(REPO, "corpus_lab", "**", "*.py"),
                       recursive=True):
        mod = os.path.relpath(f, REPO)[:-3].replace(os.sep, ".")
        for base, name in _import_pairs(f, mod.removesuffix(".__init__")):
            full = f"{base}.{name}" if name else base
            if full.split(".")[0] == PKG and full not in CORPUS_LAB_MAY_IMPORT:
                bad.add(f"{mod}: {full}")
    assert sorted(bad) == [], (
        f"corpus_lab imports non-public product names: {sorted(bad)}")
