"""Driver-contract smoke: entry() runs, queries() all return rows with
stable schemas at sf0.001, oracle keys ⊆ query keys."""

import __spark_entry__ as entry_mod


def test_entry_runs(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert len(df.columns) >= 3


def test_queries_all_run(spark, sf_dir):
    qs = entry_mod.queries()
    assert len(qs) >= 15
    for name, fn in qs.items():
        df = fn(spark, sf_dir)
        assert df.columns, name
        df.limit(3).collect()  # schema + execution smoke


def test_oracle_keys_subset(spark):
    qs, os_ = entry_mod.queries(), entry_mod.oracle_sql()
    assert set(os_) <= set(qs)


def test_coverage_query_index_matches_queries():
    """COVERAGE.md's authoritative query index must list exactly the
    queries() keys — the judge walks that list; drift means an operator
    is either unclaimed or claimed-but-gone."""
    import os
    import re

    import __spark_entry__ as em

    cov = open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "..", "COVERAGE.md")).read()
    m = re.search(r"`flagship (.*?)`", cov, re.S)
    listed = set(("flagship " + m.group(1)).split())
    qs = set(em.queries())
    assert listed == qs, (sorted(qs - listed), sorted(listed - qs))
    # every oracle key must be a query key, and since r8 EVERY query
    # has an oracle (bpe_counts graduated via in-plan bounds + frozen
    # pinned literals)
    assert set(em.oracle_sql()) == qs


def test_entry_runs_from_any_cwd(sf_dir, tmp_path):
    """The entry module works when launched from a directory that is
    not the repo: executors must import both ``__spark_entry__`` and
    ``csvplus_spark`` to unpickle the multimodal decode UDFs. A fresh
    process, so the JVM and its Python workers start from scratch."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = "\n".join([
        "import sys",
        f"sys.path.insert(0, {repo!r})",
        "import __spark_entry__ as e",
        "from csvplus_spark import get_spark",
        "spark = get_spark('any-cwd')",
        f"rows = e.queries()['multimodal_flac'](spark, {sf_dir!r}).collect()",
        "print('rows', len(rows))",
        "spark.stop()",
    ])
    # the repo must reach the workers only through the entry module
    path = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
            if p and os.path.abspath(p) != repo]
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(path),
               SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path,
                         env=env, capture_output=True, text=True,
                         timeout=600)
    assert out.returncode == 0, out.stderr[-4000:]
    assert "rows 500" in out.stdout, out.stdout
