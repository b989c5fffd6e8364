"""Driver-contract smoke: entry() runs, queries()/oracle_sql() align."""

from __future__ import annotations

import re
from collections import Counter

import pytest

import __spark_entry__ as entrymod


def test_entry_runs(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"doc_id", "domain", "keep", "drop_reason"}


def test_every_query_has_oracle():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert qs, "queries() must not be empty"
    # the driver's correctness gate records only the first 50 sorted
    # keys — the exposed registry must fit entirely inside that window
    assert len(qs) <= 50, f"exposed registry too large: {len(qs)} keys"
    # every exposed query is value-oracle-checked, no exceptions: the
    # zlib compression ratio (not SQL-expressible) is verified through
    # the committed artifacts/zlib_ratio.parquet fixture join inside
    # q13_quality_surface.
    missing = set(qs) - set(oracles)
    assert not missing, f"queries without oracle: {missing}"
    extra = set(oracles) - set(qs)
    assert not extra, f"oracles without query: {extra}"


def test_full_registry_superset():
    """The fine-grained originals stay runnable + oracle-covered
    (locally checked via FULL=1 scripts/check_oracle.py)."""
    from fineweb_domain_analyzer_spark import merged

    full_q = merged.full_queries()
    full_o = merged.full_oracle_sql()
    assert set(entrymod.queries()) <= set(full_q)
    # sole rows-only exception in the FULL registry: standalone q58
    # (zlib UDF); its values are certified by the fixture join in the
    # exposed q13_quality_surface and by tests/test_quality_scrub.py
    assert set(full_q) - set(full_o) == {"q58_compression_ratio"}


def test_bench_headline_resolves_without_spark():
    """Every bench.py headline name runs a FULL-registry query, and
    importing bench starts no Spark session (checked in a fresh
    interpreter, since this one may hold the suite's session)."""
    import subprocess
    import sys
    from pathlib import Path

    import bench
    from fineweb_domain_analyzer_spark import merged

    full = merged.full_queries()
    for name in bench.HEADLINE:
        assert bench._BENCH_ALIAS.get(name, name) in full, name
    probe = "import bench; from pyspark import SparkContext; print(SparkContext._gateway)"
    out = subprocess.run(
        [sys.executable, "-c", probe],
        cwd=Path(bench.__file__).parent,
        capture_output=True,
        text=True,
        check=True,
        timeout=120,
    )
    assert out.stdout.strip() == "None", out.stdout + out.stderr


def test_merged_membership():
    """Every fine-grained query is exposed under its own name or folded
    into exactly one merged key, and every folded member resolves to the
    FULL key that runs it: a misspelled member would otherwise drop an
    operator from the driver gate without a sound."""
    from fineweb_domain_analyzer_spark import merged, queries

    full = merged.full_queries()
    exposed = merged.exposed_queries()
    owners = Counter(m for e in merged._MERGED.values() for m in e.members)
    for key, entry in merged._MERGED.items():
        for m in entry.members:
            assert m in queries.QUERIES, f"{key}: unknown member {m}"
            assert full.get(merged._full_name(m)) is queries.QUERIES[m], (key, m)
    for name, fn in queries.QUERIES.items():
        if owners[name]:
            assert owners[name] == 1, f"{name} folded into {owners[name]} keys"
        else:
            assert exposed.get(name) is fn, f"{name} neither exposed nor folded"
    # a merged key that takes over a fine-grained name keeps the original
    # under a unique FULL alias, so no FULL name is shadowed
    aliases = [e.full_alias for e in merged._MERGED.values() if e.full_alias]
    assert len(aliases) == len(set(aliases))
    assert not set(aliases) & (set(queries.QUERIES) | set(merged._MERGED))
    for key, entry in merged._MERGED.items():
        assert (key in queries.QUERIES) == (entry.full_alias is not None), key
    assert len(full) == len(queries.QUERIES) + len(merged._MERGED)


def test_oracle_naming_rule():
    """Each oracle is ``QNN_SQL`` or ``_qNN_sql()``, never both, and
    names an existing query (an orphaned oracle is a renamed query)."""
    from fineweb_domain_analyzer_spark import queries

    numbers = {queries._query_number(n) for n in queries.QUERIES}
    for attr in vars(queries):
        m = re.fullmatch(r"Q(\d+)_SQL|_q(\d+)_sql", attr)
        if m:
            n = int(m.group(1) or m.group(2))
            assert n in numbers, f"{attr} has no query"
            assert not (
                hasattr(queries, f"Q{n:02d}_SQL") and hasattr(queries, f"_q{n}_sql")
            ), f"q{n} has two oracles"


@pytest.mark.parametrize("name", sorted(entrymod.queries()))
def test_query_runs_at_sf0001(spark, sf_dir, name):
    df = entrymod.queries()[name](spark, str(sf_dir))
    assert df.count() >= 0
