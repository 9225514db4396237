"""Registry package hygiene: the r6 split of the 10.8 kLoC monolith
into family modules must not silently regrow — no registry module may
exceed 2,000 lines (r6 verdict item 8).  When a family crosses the
bar, split it (the ``registry/__init__.py`` merge asserts name
uniqueness, so a re-split is mechanical)."""

from pathlib import Path

REGISTRY_DIR = (
    Path(__file__).resolve().parents[1]
    / "enriched_crime_incident_data_pipeline_spark"
    / "registry"
)

MAX_LINES = 2000


def test_registry_modules_stay_under_size_cap():
    assert REGISTRY_DIR.is_dir()
    offenders = {}
    for mod in sorted(REGISTRY_DIR.glob("*.py")):
        n = len(mod.read_text().splitlines())
        if n > MAX_LINES:
            offenders[mod.name] = n
    assert not offenders, (
        f"registry modules over {MAX_LINES} lines: {offenders} — "
        "split the family module (see registry/__init__.py merge)"
    )


def test_registry_query_names_unique_and_nonempty():
    # import-time assert in registry/__init__.py already enforces
    # uniqueness; this pins it as an explicit test artifact.
    from enriched_crime_incident_data_pipeline_spark.registry import (
        oracle_queries,
        spark_queries,
    )

    queries = spark_queries()  # raises on cross-family duplicate names
    assert len(queries) >= 360  # r10 floor; raise as the registry grows
    assert all(callable(v) for v in queries.values())
    # every oracle refers to a registered query
    assert set(oracle_queries()) <= set(queries)


def test_every_registry_query_benched_or_excluded():
    """r10 verdict item 2 (retires the r8/r9 landing-discipline
    failure class): every name in ``registry.spark_queries()`` must
    appear in bench.py HEADLINE or LONGTAIL, or carry a measured
    reason in BENCH_EXCLUDED — so an operator cannot land without
    either a bench entry or an explicit exclusion. Also asserts the
    three lists are disjoint and contain no stale (unregistered)
    names."""
    import sys

    sys.path.insert(0, str(REGISTRY_DIR.parents[1]))
    import bench

    from enriched_crime_incident_data_pipeline_spark.registry import (
        spark_queries,
    )

    names = set(spark_queries())
    headline, longtail = set(bench.HEADLINE), set(bench.LONGTAIL)
    excluded = set(bench.BENCH_EXCLUDED)
    assert headline & longtail == set()
    assert (headline | longtail) & excluded == set()
    stale = (headline | longtail | excluded) - names
    assert not stale, f"bench.py lists unregistered queries: {stale}"
    unwired = names - headline - longtail - excluded
    assert not unwired, (
        f"registry queries neither benched nor excluded: {unwired} — "
        "add to bench.py LONGTAIL or BENCH_EXCLUDED with a measured "
        "reason (tools/bench_audit.py)"
    )
    # exclusion reasons must be real text, not placeholders
    assert all(
        isinstance(r, str) and len(r) > 10
        for r in bench.BENCH_EXCLUDED.values()
    )


def test_family_module_public_symbols_reexported():
    """r10 verdict item 1 (the r9 breakage class): the r9 stats.py
    split kept the driver contract green but dropped the star
    re-export, breaking an UNTOUCHED test file's deep import. Assert
    every public ``q_*``/callable symbol defined in any
    ``registry/*.py`` family module is importable from the
    ``registry`` package, so the next module split cannot silently
    break re-exports."""
    import importlib

    import enriched_crime_incident_data_pipeline_spark.registry as reg

    missing = {}
    for mod_path in sorted(REGISTRY_DIR.glob("*.py")):
        stem = mod_path.stem
        if stem.startswith("__"):
            continue
        mod = importlib.import_module(
            f"enriched_crime_incident_data_pipeline_spark.registry.{stem}"
        )
        public = getattr(mod, "__all__", None) or [
            n for n in vars(mod) if n.startswith("q_")
        ]
        for n in public:
            if getattr(reg, n, None) is not getattr(mod, n):
                missing.setdefault(stem, []).append(n)
    assert not missing, (
        f"family-module symbols not re-exported from the registry "
        f"package: {missing} — add the star import in "
        "registry/__init__.py"
    )


def test_readme_query_count_matches_registry():
    """r8 verdict item 2: README.md's advertised query count drifted
    (313 vs 314) because the count was hand-maintained in two prose
    spots. Pin every README occurrence of the count to
    ``len(spark_queries())`` so a registry add without a README bump
    fails here."""
    import re

    from enriched_crime_incident_data_pipeline_spark.registry import (
        spark_queries,
    )

    n = len(spark_queries())
    readme = (REGISTRY_DIR.parents[1] / "README.md").read_text()
    counts = {
        int(m)
        for m in re.findall(r"(\d+) named queries|all (\d+) queries", readme)
        for m in m
        if m
    }
    assert counts == {n}, (
        f"README query counts {sorted(counts)} != registry size {n} — "
        "update README.md's two count mentions"
    )


def test_driver_rows_go_through_local_frame():
    """Driver-side rows become relations only through
    ``session.local_frame``: ``createDataFrame(<python list>)`` plans a
    PythonRDD that runs one Python worker task per default partition
    every time the relation is read, so no other ``createDataFrame(``
    call may come back into the package unseen."""
    import re

    package = REGISTRY_DIR.parent
    calls = {
        str(p.relative_to(package)): n
        for p in sorted(package.rglob("*.py"))
        if (n := len(re.findall(r"\.createDataFrame\(", p.read_text())))
    }
    assert calls == {"session.py": 1}, (
        f"createDataFrame( calls outside session.local_frame: {calls} — "
        "build driver-side rows with local_frame(spark, rows, schema)"
    )


def test_package_compiles_without_escape_warnings():
    """Every package module compiles with ``SyntaxWarning`` and
    ``DeprecationWarning`` raised as errors: an invalid escape such as
    ``"\\."`` in a non-raw literal warns today and is an error in a
    later Python. Compiling from source checks it even when a cached
    ``.pyc`` would skip the warning on import."""
    import warnings

    package = REGISTRY_DIR.parent
    bad = {}
    for path in sorted(package.rglob("*.py")):
        with warnings.catch_warnings():
            warnings.simplefilter("error", SyntaxWarning)
            warnings.simplefilter("error", DeprecationWarning)
            try:
                compile(path.read_text(), str(path), "exec")
            except SyntaxError as exc:  # a warning raised as an error
                bad[str(path.relative_to(package))] = f"{exc.lineno}: {exc.msg}"
    assert not bad, f"modules with invalid escapes: {bad}"
