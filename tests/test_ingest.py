"""Ingestion-layer tests against the reference-shaped fixture
(FIXTURES.md §A): whole-file JSON arrays, metadata-sidecar exclusion,
corrupt-file tolerance, day partitioning.

Mirrors the reference's only unit test (re-serialization round-trip +
graceful handling of invalid input,
``alas_dataflow_1_repository/.../tests/test_process_json_file.py:18-35``)
but through the engine's real readers.
"""

import json
import os
from datetime import date, timedelta

from aproximacion_1_etl_spark.sources.json_ingest import (
    read_day_files,
    split_corrupt,
)

ORDER_DDL = (
    "delivery_order_id STRING, code STRING, recycling BOOLEAN, "
    "size_box STRING, delivery_attemps BIGINT, "
    "destination STRUCT<street: STRING, structure_id: BIGINT, "
    "geo_location: STRUCT<lat: DOUBLE, lon: DOUBLE>>, "
    "events_info_json STRING"
)


def _write_day_layout(tmp_path, n_days=2):
    """Reference layout: {day}/{day}.json (one JSON array per file) +
    metadata sidecar that must be excluded + one corrupt file. Days past
    the second hold one more order each, with its sidecar."""
    day1 = tmp_path / "2024-03-01"
    day1.mkdir()
    orders = [
        {
            "delivery_order_id": "DO-1",
            "code": "C-1",
            "recycling": False,
            "size_box": "M2",
            "delivery_attemps": 2,
            "destination": {
                "street": "Evergreen",
                "structure_id": 13123,
                "geo_location": {"lat": -33.45, "lon": -70.65},
            },
            "events_info_json": json.dumps(
                [{"status": 1, "timestamp": "2024-03-01T10:15:30.123456"}]
            ),
        },
        {
            "delivery_order_id": "DO-2",
            "code": "",
            "recycling": None,
            "size_box": "XL9",
            "delivery_attemps": 0,
            "destination": {"street": None, "structure_id": 1},
            "events_info_json": None,
        },
    ]
    (day1 / "2024-03-01.json").write_text(json.dumps(orders))
    (day1 / "2024-03-01_metadata.json").write_text(
        json.dumps({"fecha": "2024-03-01", "total_ordenes": 2, "fallos": 0})
    )
    day2 = tmp_path / "2024-03-02"
    day2.mkdir()
    (day2 / "2024-03-02.json").write_text("{ this is not valid json !!")
    for n in range(3, n_days + 1):
        day = (date(2024, 3, 1) + timedelta(days=n - 1)).isoformat()
        (tmp_path / day).mkdir()
        (tmp_path / day / f"{day}.json").write_text(
            json.dumps([{"delivery_order_id": f"DO-{n}", "code": f"C-{n}"}])
        )
        (tmp_path / day / f"{day}_metadata.json").write_text(
            json.dumps({"fecha": day, "total_ordenes": 1, "fallos": 0})
        )
    return tmp_path


def test_multiline_array_read_excludes_metadata(spark, tmp_path):
    root = _write_day_layout(tmp_path)
    df = read_day_files(spark, f"{root}/*", schema_ddl=ORDER_DDL)
    clean, corrupt = split_corrupt(df)
    rows = {r["delivery_order_id"]: r for r in clean.collect()}
    # metadata sidecar rows must NOT appear (they'd parse as nulls)
    assert set(rows) == {"DO-1", "DO-2"}
    # nested-path extraction with missing-key tolerance (P2)
    assert rows["DO-1"]["destination"]["geo_location"]["lat"] == -33.45
    assert rows["DO-2"]["destination"]["geo_location"] is None
    # corrupt file skipped but counted (F6)
    assert corrupt.count() == 1


def test_read_day_files_lists_many_days_without_a_job(spark, tmp_path):
    # 40 day directories exceed Spark's default parallel-listing
    # threshold (32); under local[N] the listing must stay in the driver
    root = _write_day_layout(tmp_path, n_days=40)
    sc = spark.sparkContext
    group = "read-day-files-listing"
    sc.setJobGroup(group, group)
    try:
        df = read_day_files(spark, f"{root}/*", schema_ddl=ORDER_DDL)
        assert sc.statusTracker().getJobIdsForGroup(group) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    clean, corrupt = split_corrupt(df)
    # day 1 holds 2 orders, day 2 is the corrupt file, days 3-40 one each
    assert clean.count() == 2 + 38
    assert corrupt.count() == 1


def test_explode_child_from_fixture(spark, tmp_path):
    root = _write_day_layout(tmp_path)
    df, _ = split_corrupt(read_day_files(spark, f"{root}/*", schema_ddl=ORDER_DDL))
    from aproximacion_1_etl_spark.operators.explode import explode_json_array

    child = explode_json_array(
        df,
        json_col="events_info_json",
        element_schema_ddl="status INT, timestamp STRING",
        parent_keys=["delivery_order_id"],
    )
    rows = child.collect()
    # null array -> no rows (P9); DO-1's single event carries parent key
    assert len(rows) == 1
    assert rows[0]["delivery_order_id"] == "DO-1"
    assert rows[0]["status"] == 1


def _write_pretty_day(root, orders):
    day = root / "2024-03-01"
    day.mkdir()
    (day / "2024-03-01.json").write_text(json.dumps(orders, indent=2))
    return f"{root}/*"


def test_string_declared_nested_array_is_compact_json(spark, tmp_path):
    # a pretty-printed child array declared STRING comes back as the
    # parser's compact re-serialization (the reference's json.dumps),
    # not the source bytes; exploding it matches a typed read
    from aproximacion_1_etl_spark.operators.explode import explode_json_array

    events = [
        {"status": 1, "timestamp": "2024-03-01T10:15:30"},
        {"status": 2, "timestamp": "2024-03-01T11:00:00"},
    ]
    path = _write_pretty_day(tmp_path, [
        {"delivery_order_id": "DO-1", "events": events},
        {"delivery_order_id": "DO-2", "events": []},
    ])
    clean, corrupt = split_corrupt(
        read_day_files(spark, path, "delivery_order_id STRING, events STRING")
    )
    got = {r["delivery_order_id"]: r["events"] for r in clean.collect()}
    assert got == {
        "DO-1": json.dumps(events, separators=(",", ":")),
        "DO-2": "[]",
    }
    assert corrupt.count() == 0
    element = "status INT, timestamp STRING"
    from_string = explode_json_array(
        clean, "events", element, ["delivery_order_id"]
    )
    typed = read_day_files(
        spark, path,
        f"delivery_order_id STRING, events ARRAY<STRUCT<{element}>>",
    ).selectExpr("delivery_order_id", "inline(events)")
    rows = sorted(from_string.collect())
    assert len(rows) == 2 and rows == sorted(typed.collect())


def test_nested_type_mismatch_keeps_the_order(spark, tmp_path):
    # a child element whose field does not fit its type must not make
    # the order corrupt: ingest keeps the array as a string, and
    # from_json at explode nulls only the mismatched field
    from aproximacion_1_etl_spark.operators.explode import explode_json_array

    path = _write_pretty_day(tmp_path, [
        {"delivery_order_id": "DO-1",
         "events": [{"status": "abc", "timestamp": "t1"}]},
        {"delivery_order_id": "DO-2",
         "events": [{"status": 2, "timestamp": "t2"}]},
    ])
    clean, corrupt = split_corrupt(
        read_day_files(spark, path, "delivery_order_id STRING, events STRING")
    )
    assert sorted(r["delivery_order_id"] for r in clean.collect()) == [
        "DO-1", "DO-2",
    ]
    assert corrupt.count() == 0
    child = explode_json_array(
        clean, "events", "status INT, timestamp STRING", ["delivery_order_id"]
    )
    assert sorted(tuple(r) for r in child.collect()) == [
        ("DO-1", None, "t1"), ("DO-2", 2, "t2"),
    ]


def test_rest_datasource_plans_one_task_per_page(spark):
    """Python DataSource API: the (day, page) grid must become real
    InputPartitions (task-level retry/speculation), and the rows must
    match the task-grid implementation in sources/rest.py."""
    from aproximacion_1_etl_spark.sources.rest_datasource import register

    register(spark)
    df = (
        spark.read.format("rest_orders")
        .option("start_date", "2024-01-01")
        .option("n_days", 4)
        .option("max_pages", 3)
        .load()
    )
    assert df.rdd.getNumPartitions() == 12  # 4 days x 3 pages
    assert df.count() == 12 * 5
    one = df.filter(
        (df.fetch_date == "2024-01-02") & (df.page == 2)
    ).collect()
    assert {r.order_id for r in one} == {
        f"2024-01-02#p2#r{i}" for i in range(5)
    }
    assert all(r.amount == 200.0 + int(r.order_id[-1]) for r in one)


def test_rest_stream_reader_offsets_and_replay():
    """The streaming REST reader's offset protocol (pure Python — no
    Spark needed): read() advances one day per call, idles with an
    UNCHANGED offset past the window, and readBetweenOffsets replays
    exactly the rows of the committed range — the determinism
    exactly-once recovery rests on."""
    from aproximacion_1_etl_spark.sources.rest_datasource import (
        RestOrdersStreamReader,
    )

    r = RestOrdersStreamReader(
        {"start_date": "2024-01-01", "n_days": 2, "max_pages": 2}
    )
    off0 = r.initialOffset()
    assert off0 == {"day_index": 0}
    rows_d0, off1 = r.read(off0)
    rows_d0 = list(rows_d0)
    assert off1 == {"day_index": 1}
    assert len(rows_d0) == 2 * 5  # pages x records
    assert all(row[1] == "2024-01-01" for row in rows_d0)
    rows_d1, off2 = r.read(off1)
    rows_d1 = list(rows_d1)
    assert off2 == {"day_index": 2}
    # window exhausted: idle, offset unchanged, no rows
    idle_rows, off3 = r.read(off2)
    assert list(idle_rows) == [] and off3 == off2
    # recovery replay equals the original committed batches
    assert list(r.readBetweenOffsets(off0, off2)) == rows_d0 + rows_d1
