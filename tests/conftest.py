from __future__ import annotations

import os

import pytest

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from mta_rtf_dbt_spark.session import get_spark

    # 8 shuffle partitions is right-sized for the sf0.001/sf0.01 suites this
    # fixture usually serves; scale rehearsals (ORACLE_PARITY_SF=/tmp/sf10)
    # need real width or every shuffle stage runs 8 oversized partitions —
    # override without touching the default the 600-test suite is tuned for.
    width = int(os.environ.get("ORACLE_PARITY_SHUFFLE", "8"))
    s = get_spark(app_name="mta-rtf-dbt-spark-tests", shuffle_partitions=width)
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    # Route oracle spill off the repo tree (DuckDB's in-memory default is
    # `.tmp` under the cwd — the r6 sf1 rehearsal left 59 GB of spill
    # blocks inside /root/repo and then filled the disk) and cap it so a
    # runaway oracle degrades into a clean error instead of taking the
    # host's free space with it. Memory stays at DuckDB's default (80% of
    # RAM): the oracle is correctness scaffolding, and its ceiling must
    # not become the rehearsal's binding constraint.
    # Env-overridable (ORACLE_DUCK_TMP) because max_temp_directory_size
    # accounting is DIRECTORY-wide, not per-process: a parallel runner or
    # prewarm sharing this dir gets charged for our blocks (and vice versa)
    # and dies on a phantom cap breach (r9 finding).
    con.execute(
        "SET temp_directory="
        f"'{os.environ.get('ORACLE_DUCK_TMP', '/tmp/duckdb_oracle_spill')}'"
    )
    # 60GiB (was 40): the r7 sf3 sweep showed the text-dedup posting-join
    # prefix legitimately peaks >40GiB of spill under memory pressure from
    # a concurrent Spark JVM; the cap still protects the host (stale
    # /tmp/blockmgr-* dirs from dead JVMs are the thing that actually
    # filled the disk in r6 — clean those first when space runs low)
    con.execute("SET max_temp_directory_size='60GiB'")
    # r8 sf3 finding (rehearsal_sf3_heavy_r8 + tools/diag_cc_sf3.py, since
    # removed; it remains in git history): at the
    # default thread count (= all 32 cores) the CC-chain oracle's posting-
    # join prefix blows the spill cap — every thread holds its own operator
    # partitions, so spill volume SCALES WITH THREADS under memory pressure
    # from the co-resident Spark JVM. 16 threads builds the identical
    # 2,405,400-edge relation in <50GiB; the light oracles are sub-second
    # either way. Insertion order is not observable (the harness sorts rows
    # before comparing), so let DuckDB drop its order-preservation buffers.
    con.execute("SET threads=16")
    con.execute("SET preserve_insertion_order=false")
    # Scale rehearsals sometimes run next to another DuckDB (the shared-
    # prefix prewarm, a parallel half-registry runner): two processes each
    # assuming 80% of RAM overcommit the host. Cap this one explicitly then.
    if os.environ.get("ORACLE_DUCK_MEM"):
        con.execute(f"SET memory_limit='{os.environ['ORACLE_DUCK_MEM']}'")
    yield con
    con.close()
