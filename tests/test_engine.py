"""Query lifecycle tests: run → status → fetch, mirroring the reference's
client-visible API (async_query_client.rs:40-154,
query_handler_state.rs:28-44, query_data_handler.rs:183-571).
"""

from __future__ import annotations

import os

import pytest

from chapterhouseqe_spark.connections import ConnectionRegistry
from chapterhouseqe_spark.engine import QueryEngine, QueryStatus, with_row_ids


@pytest.fixture
def engine(spark, sf_dir, tmp_path):
    registry = ConnectionRegistry(default_base=sf_dir)
    return QueryEngine(spark, results_root=str(tmp_path / "results"), registry=registry)


def test_lifecycle_complete(engine, sf_dir):
    qid = engine.run_query_sync(
        f"select * from read_files('{sf_dir}/region.parquet') where r_regionkey >= 0",
        mode="reference",
    )
    assert engine.status(qid) is QueryStatus.COMPLETE
    assert engine.num_rows(qid) == 5
    rows = engine.fetch(qid, offset=0, limit=10)
    assert len(rows) == 5
    assert {"r_regionkey", "r_name"} <= set(rows[0])


def test_fetch_forward_and_reverse_paging(engine, sf_dir):
    qid = engine.run_query_sync(
        f"select n_nationkey from read_files('{sf_dir}/nation.parquet')",
        mode="reference",
    )
    assert engine.num_rows(qid) == 25
    first = engine.fetch(qid, offset=0, limit=10)
    second = engine.fetch(qid, offset=10, limit=10)
    assert len(first) == 10 and len(second) == 10
    assert first != second
    # reverse: the 10 rows ENDING at offset 9 inclusive == forward page 1
    rev = engine.fetch(qid, offset=9, limit=10, forward=False)
    assert rev == first
    # reverse near the start clamps at 0 (query_data_handler.rs:425-463)
    rev_short = engine.fetch(qid, offset=4, limit=10, forward=False)
    assert rev_short == first[:5]


def test_empty_result_completes(engine, sf_dir):
    # ADVICE r1 high: empty results must COMPLETE, not ERROR
    # (empty batches flow through, filter_record.rs:17-39)
    qid = engine.run_query_sync(
        f"select * from read_files('{sf_dir}/region.parquet') where r_regionkey < 0",
        mode="reference",
    )
    assert engine.status(qid) is QueryStatus.COMPLETE, engine.error(qid)
    assert engine.num_rows(qid) == 0
    assert engine.fetch(qid, 0, 10) == []


def test_error_status(engine):
    qid = engine.run_query_sync("select * from read_files('/nope/*.parquet')")
    assert engine.status(qid) is QueryStatus.ERROR
    assert engine.error(qid)


def test_unknown_query_id(engine):
    with pytest.raises(KeyError):
        engine.status("no-such-id")


def test_spark_mode_full_sql(engine, sf_dir):
    qid = engine.run_query_sync(
        f"""
        select n.n_name, count(*) as cnt
        from read_files('{sf_dir}/nation.parquet') n
        join read_files('{sf_dir}/region.parquet') r
          on n.n_regionkey = r.r_regionkey
        group by n.n_name order by n.n_name limit 3
        """
    )
    assert engine.status(qid) is QueryStatus.COMPLETE, engine.error(qid)
    assert engine.num_rows(qid) == 3


def test_reference_mode_flagship(engine, sf_dir):
    # shape of sample_queries/simple.sql q4 (SURVEY §7.2)
    qid = engine.run_query_sync(
        f"""
        select n_nationkey, n_nationkey + 10.0 as key_plus_10,
               (n_regionkey + 10) / 100 as rk, 1.0 / (n_nationkey + 1) as inv
        from read_files('{sf_dir}/nation.parquet') where n_nationkey > 2 + 0.0
        """,
        mode="reference",
    )
    assert engine.status(qid) is QueryStatus.COMPLETE, engine.error(qid)
    assert engine.num_rows(qid) == 22
    row = engine.fetch(qid, 0, 1)[0]
    assert row["rk"] == 0  # integer division semantics


def test_run_script_multi_statement(engine, sf_dir):
    qids = engine.run_script(
        f"select * from read_files('{sf_dir}/region.parquet');"
        f"select * from read_files('{sf_dir}/nation.parquet') where n_name != 'a;b';"
    )
    assert len(qids) == 2
    assert engine.status(qids[0]) is QueryStatus.COMPLETE
    assert engine.status(qids[1]) is QueryStatus.COMPLETE
    assert engine.num_rows(qids[1]) == 25


def test_with_row_ids_dense_and_ordered(spark):
    df = spark.range(0, 1000).repartition(7)
    ided = with_row_ids(df)
    ids = [r["__row_id"] for r in ided.select("__row_id").collect()]
    assert sorted(ids) == list(range(1000))
    assert ided._chqe_total_rows == 1000


def test_with_row_ids_empty(spark):
    df = spark.range(0, 10).filter("id < 0")
    ided = with_row_ids(df)
    assert ided.count() == 0
    assert ided._chqe_total_rows == 0


def test_fetch_allow_overflow(engine, sf_dir):
    # query_data_handler.rs:425-463: a reverse page that hits row 0
    # short of `limit` overflows FORWARD to fill the page
    qid = engine.run_query_sync(
        f"select n_nationkey from read_files('{sf_dir}/nation.parquet')",
        mode="reference",
    )
    short = engine.fetch(qid, offset=4, limit=10, forward=False)
    assert len(short) == 5  # clamped without the flag
    full = engine.fetch(qid, offset=4, limit=10, forward=False, allow_overflow=True)
    assert len(full) == 10
    assert full[:5] == short  # same leading rows, window extended forward
    # near the end the overflow cannot exceed the result size
    tail = engine.fetch(qid, offset=23, limit=30, forward=False, allow_overflow=True)
    assert len(tail) == 25


def test_multi_from_bag_union(engine, sf_dir):
    # the reference wires multiple FROM relations into the same stage —
    # a bag union of their batches (logical_planner.rs:277-283)
    qid = engine.run_query_sync(
        f"select r_regionkey from read_files('{sf_dir}/region.parquet'), "
        f"read_files('{sf_dir}/region.parquet') where r_regionkey >= 0",
        mode="reference",
    )
    assert engine.status(qid) is QueryStatus.COMPLETE, engine.error(qid)
    assert engine.num_rows(qid) == 10  # 5 + 5, not 25 (no cross join)


def test_query_client_facade(engine, sf_dir):
    # AsyncQueryClient-shaped API (async_query_client.rs:40-154)
    from chapterhouseqe_spark.client import QueryClient

    client = QueryClient(engine)
    handle = client.run_query(
        f"select r_regionkey from read_files('{sf_dir}/region.parquet')",
        mode="reference",
    )
    assert client.wait_for_query(handle) is QueryStatus.COMPLETE
    assert client.get_query_status(handle) is QueryStatus.COMPLETE
    page = client.get_query_data(handle, 0, 3)
    assert len(page) == 3
    assert len(list(client.iter_query_data(handle, page_size=2))) == 5


def test_concurrent_queries(engine, sf_dir):
    # multi-query sessions: the reference's query handler tracks many
    # in-flight queries (query_handler_state.rs:104-117)
    qids = [
        engine.run_query(
            f"select n_nationkey from read_files('{sf_dir}/nation.parquet') "
            f"where n_nationkey % {k} = 0",
            mode="reference",
        )
        for k in (2, 3, 5, 7)
    ]
    for qid in qids:
        assert engine.wait(qid, timeout=120) is QueryStatus.COMPLETE, engine.error(qid)
    counts = [engine.num_rows(q) for q in qids]
    assert counts == [13, 9, 5, 4]  # multiples of k in 0..24


def test_fetch_before_complete_raises(engine, sf_dir):
    qid = engine.run_query_sync("select * from read_files('/nope/*.parquet')")
    with pytest.raises(RuntimeError):
        engine.fetch(qid, 0, 10)


def test_reference_mode_order_by_limit(engine, sf_dir):
    # the reference's own TODOs, implemented in its dialect
    qid = engine.run_query_sync(
        f"select n_nationkey, n_name from read_files('{sf_dir}/nation.parquet') "
        "where n_nationkey > 2 order by n_nationkey desc limit 4",
        mode="reference",
    )
    assert engine.status(qid) is QueryStatus.COMPLETE, engine.error(qid)
    rows = engine.fetch(qid, 0, 10)
    assert [r["n_nationkey"] for r in rows] == [24, 23, 22, 21]
    # multi-key ordering with expression
    qid2 = engine.run_query_sync(
        f"select n_regionkey, n_nationkey from read_files('{sf_dir}/nation.parquet') "
        "order by n_regionkey asc, n_nationkey desc limit 3",
        mode="reference",
    )
    rows2 = engine.fetch(qid2, 0, 10)
    assert [(r["n_regionkey"], r["n_nationkey"]) for r in rows2] == [
        (0, 20), (0, 15), (0, 10)
    ]


def test_materialize_partitioned(engine, sf_dir, tmp_path):
    out = str(tmp_path / "mat")
    n = engine.materialize(
        f"select o_orderstatus, o_orderkey, o_totalprice "
        f"from read_files('{sf_dir}/orders.parquet')",
        out,
        partition_by=["o_orderstatus"],
    )
    spark = engine.spark
    assert n == spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    # hive-style partition dirs exist and partition pruning applies
    import os

    dirs = [d for d in os.listdir(out) if d.startswith("o_orderstatus=")]
    assert len(dirs) >= 2
    pruned = spark.read.parquet(out).filter("o_orderstatus = 'F'")
    plan = pruned._sc._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan


def test_fetch_rejects_negative_paging(engine, sf_dir):
    qid = engine.run_query_sync(
        f"select n_nationkey from read_files('{sf_dir}/nation.parquet')",
        mode="reference",
    )
    # a negative offset once returned rows 0..4 for [-5, 5)
    with pytest.raises(ValueError):
        engine.fetch(qid, offset=-5, limit=10)
    with pytest.raises(ValueError):
        engine.fetch(qid, offset=3, limit=-1, forward=False)


_TYPED_SCHEMA = (
    "i int, l long, f float, d double, dec decimal(12,3), s string, "
    "b binary, t boolean, dt date, ts timestamp, tsn timestamp_ntz, "
    "a array<int>, m map<string,int>, st struct<x:int,y:string>"
)


def _typed_rows(n: int) -> list[tuple]:
    import datetime
    import decimal

    rows = []
    for k in range(n):
        if k % 5 == 4:  # a null in every column
            rows.append((None,) * 14)
            continue
        rows.append((
            k - 20,
            k * 10**10,
            k / 3,
            k / 7 - 2,
            decimal.Decimal(k) / 8,
            f"s{k}é",
            bytes([k, 255 - k]),
            k % 2 == 0,
            datetime.date(1969, 12, 1) + datetime.timedelta(days=9 * k),
            datetime.datetime(2021, 3, 14, 1, 59, 26, 535)
            + datetime.timedelta(hours=7 * k),
            datetime.datetime(1999, 12, 31, 23) + datetime.timedelta(minutes=k),
            [k, None, k + 1],
            {"a": k, "b": None},
            (k, None if k % 3 else f"y{k}"),
        ))
    # dates and timestamps at the ends of their ranges; timestamps are
    # INT96 in the files, and pyarrow's default INT96 unit would wrap
    # these. Spark's own collect() fails on a 0001-01-01 timestamp
    # (year 0 after the session time zone shift), so the low one is
    # two days later.
    lo = datetime.datetime(1, 1, 3)
    hi = datetime.datetime(9999, 12, 31, 23, 59, 59, 999999)
    for k, (dt, ts) in {1: (datetime.date(1, 1, 1), lo), 2: (hi.date(), hi)}.items():
        rows[k] = rows[k][:8] + (dt, ts, ts) + rows[k][11:]
    return rows


# row groups of a few rows each, so a page also straddles the row groups
# inside one file
_TINY_ROW_GROUPS = {
    "parquet.block.size": "256",
    "parquet.block.size.row.check.min": "2",
    "parquet.block.size.row.check.max": "2",
    "parquet.page.size": "64",
    "parquet.page.size.row.check.min": "1",
    "parquet.page.size.row.check.max": "1",
    "parquet.enable.dictionary": "false",
}


@pytest.mark.parametrize(
    "confs",
    [{}, _TINY_ROW_GROUPS, {"spark.sql.execution.pyspark.binaryAsBytes": "false"}],
    ids=["file_per_7_rows", "tiny_row_groups", "binary_as_bytearray"],
)
def test_fetch_matches_spark_read(spark, engine, confs):
    """Pages served from the row-group index equal a Spark read of the
    same row-id window, cell for cell and type for type."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    n = 40
    typed = spark.createDataFrame(_typed_rows(n), _TYPED_SCHEMA)
    typed.repartition(3).createOrReplaceTempView("chqe_typed")
    engine.max_records_per_file = 7
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        qid = engine.run_query_sync("select * from chqe_typed")
        empty = engine.run_query_sync("select * from chqe_typed where i > 100")
        assert engine.status(qid) is QueryStatus.COMPLETE, engine.error(qid)
        assert engine.num_rows(qid) == n
        path = f"{engine.results_root}/{qid}"
        groups = [
            pq.ParquetFile(f"{path}/{f}").metadata.num_row_groups
            for f in os.listdir(path)
            if f.endswith(".parquet")
        ]
        assert len(groups) >= 6
        if confs is _TINY_ROW_GROUPS:
            assert max(groups) > 1

        def spark_page(lo, hi):
            page = (
                spark.read.parquet(path)
                .filter((F.col("__row_id") >= lo) & (F.col("__row_id") < hi))
                .orderBy("__row_id")
                .drop("__row_id")
            )
            return [r.asDict() for r in page.collect()]

        pages = [
            # (offset, limit, forward, allow_overflow)
            (0, 10, True, False),
            (5, 20, True, False),
            (n - 1, 10, True, False),
            (n + 3, 10, True, False),
            (12, 0, True, False),
            (0, 10, False, False),
            (n - 1, 13, False, False),
            (n + 5, 10, False, False),
            (20, 0, False, False),
            (3, 10, False, True),
            (n - 1, 50, False, True),
            (30, 9, False, True),
        ]
        for off, lim, fwd, ovf in pages:
            if fwd:
                lo, hi = off, off + lim
            else:
                lo, hi = max(0, off + 1 - lim), off + 1
                if ovf and hi - lo < lim:
                    hi = min(lo + lim, n)
            got = engine.fetch(qid, off, lim, forward=fwd, allow_overflow=ovf)
            want = spark_page(lo, hi)
            assert len(got) == len(want), (off, lim, fwd, ovf)
            assert got == want, (off, lim, fwd, ovf)
            assert repr(got) == repr(want), (off, lim, fwd, ovf)  # same types
    finally:
        for k in confs:
            spark.conf.unset(k)
    assert engine.num_rows(empty) == 0
    assert engine.fetch(empty, 0, 10) == []
    assert engine.fetch(empty, 0, 10, forward=False, allow_overflow=True) == []


def test_row_group_index(tmp_path):
    """The footer index finds every row group a window touches, refuses a
    result whose row groups carry no row-id statistics, and refuses one
    whose files do not hold every row."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from chapterhouseqe_spark.engine import _RowGroupIndex

    ids = {"a": range(0, 7), "b": range(7, 15)}
    for name, rid in ids.items():
        pq.write_table(
            pa.table({"__row_id": list(rid)}), tmp_path / f"{name}.parquet", row_group_size=3
        )
    index = _RowGroupIndex.from_footers(str(tmp_path), 15)
    assert len(index.entries) == 6

    def ids_in(lo, hi):
        got = []
        for path, rg in index.overlapping(lo, hi):
            got += pq.ParquetFile(path).read_row_group(rg).column("__row_id").to_pylist()
        return sorted(i for i in got if lo <= i < hi)

    for lo in range(0, 17):
        for hi in range(lo, 18):
            assert ids_in(lo, hi) == list(range(lo, min(hi, 15))), (lo, hi)
    # a window reads only the row groups it touches
    assert len(index.overlapping(3, 6)) == 1
    assert len(index.overlapping(5, 7)) == 2
    assert index.overlapping(15, 20) == []

    (tmp_path / "b.parquet").unlink()
    with pytest.raises(RuntimeError, match="7 of the result's 15 rows"):
        _RowGroupIndex.from_footers(str(tmp_path), 15)

    bare = tmp_path / "bare"
    bare.mkdir()
    pq.write_table(pa.table({"__row_id": [0, 1]}), bare / "x.parquet", write_statistics=False)
    with pytest.raises(RuntimeError, match="statistics"):
        _RowGroupIndex.from_footers(str(bare), 2)


def test_results_root_the_driver_cannot_list_fails(spark, sf_dir, tmp_path):
    """Spark writes a ``file://`` root fine, but the driver-side index
    cannot list it: the query fails instead of serving empty pages."""
    registry = ConnectionRegistry(default_base=sf_dir)
    uri = QueryEngine(spark, results_root=f"file://{tmp_path}/r", registry=registry)
    qid = uri.run_query_sync("select * from read_files('nation.parquet')")
    assert uri.status(qid) is QueryStatus.ERROR
    assert "0 of the result's 25 rows" in uri.error(qid)
    assert "locally" in uri.error(qid)


def test_result_row_groups_are_capped(spark, engine):
    """Result row groups hold at most RESULT_ROW_GROUP_ROWS rows, so a
    page never decodes a whole large file."""
    import pyarrow.parquet as pq

    from chapterhouseqe_spark.engine import RESULT_ROW_GROUP_ROWS

    n = 2 * RESULT_ROW_GROUP_ROWS + 500
    spark.range(n).coalesce(1).createOrReplaceTempView("chqe_long")
    qid = engine.run_query_sync("select id from chqe_long")
    assert engine.status(qid) is QueryStatus.COMPLETE, engine.error(qid)
    path = f"{engine.results_root}/{qid}"
    sizes = [
        meta.row_group(rg).num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
        for meta in [pq.ParquetFile(f"{path}/{f}").metadata]
        for rg in range(meta.num_row_groups)
    ]
    assert sum(sizes) == n
    assert max(sizes) == RESULT_ROW_GROUP_ROWS
    page = engine.fetch(qid, RESULT_ROW_GROUP_ROWS - 3, 6)
    assert [r["id"] for r in page] == list(range(RESULT_ROW_GROUP_ROWS - 3, RESULT_ROW_GROUP_ROWS + 3))
