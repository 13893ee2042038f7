"""sources/restsource: distributed REST bronze ingestion against the
deterministic localhost server (sources/restfixture.py). Mirrors the
reference behaviors (token auth, unit catalog, enrichment columns,
error-skip; /root/reference/scripts/bronze_digit.py:28-109) plus the
retry/backoff the reference lacks."""

import json

import pytest

from aws_medallion_datalake_spark.sources.restsource import (
    BRONZE_SCHEMA,
    RestEndpoint,
    fetch_token,
    list_units,
    normalize_bronze,
    read_bronze,
)
from aws_medallion_datalake_spark.sources.restfixture import (
    CREDS,
    PAGE_SIZE,
    FakeRestServer,
    record,
    unit_ids,
    unit_rows,
)


def _ep(srv, **kw):
    kw.setdefault("credentials", dict(CREDS))
    kw.setdefault("backoff_base_s", 0.01)  # keep retry tests fast
    kw.setdefault("units_path", "/getUnits")
    return RestEndpoint(base_url=srv.base_url, **kw)


def expected_rows(n_units):
    out = []
    for k in range(n_units):
        for j in range(unit_rows(k)):
            out.append((f"u-{k:03d}", j // PAGE_SIZE, record(k, j)))
    return out


def test_token_and_catalog_roundtrip():
    with FakeRestServer(n_units=3) as srv:
        ep = _ep(srv)
        token = fetch_token(ep)
        assert token
        assert list_units(ep, token) == unit_ids(3)


def test_bad_credentials_rejected():
    with FakeRestServer(n_units=2) as srv:
        ep = _ep(srv, credentials={"cliente_nome": "x", "chave_secreta": "y"})
        with pytest.raises(RuntimeError, match="token grant failed"):
            fetch_token(ep)


def test_bronze_matches_pure_function(spark):
    with FakeRestServer(n_units=6) as srv:
        df = read_bronze(spark, _ep(srv)).cache()
        rows = {
            (r.unit_id, r.page, r.rec_seq): r for r in df.collect()
        }
        exp = expected_rows(6)
        assert len(rows) == len(exp)
        for unit, page, rec in exp:
            j = int(rec["rec_id"].rsplit("r", 1)[1])
            got = rows[(unit, page, j % PAGE_SIZE)]
            assert json.loads(got.raw_json) == rec
            assert got.data_type == "horas_funcao"
            assert got.api_source == "local"
            assert got.attempts == 1
        df.unpersist()


def test_retry_then_success_counts_attempts(spark):
    # page (u-001, 1) fails twice with 503 before succeeding: rows land
    # and carry attempts == 3; every other row took 1 attempt.
    with FakeRestServer(n_units=3, faults={("u-001", 1): (503, 2)}) as srv:
        df = read_bronze(spark, _ep(srv))
        by_attempts = {
            (r.unit_id, r.page): r.attempts for r in df.collect()
        }
        assert by_attempts[("u-001", 1)] == 3
        assert all(
            a == 1 for k, a in by_attempts.items() if k != ("u-001", 1)
        )
        assert srv.hits[("u-001", 1)] == 3


def test_retry_budget_exhausted_drops_unit_tail(spark):
    # (u-002, 0) always 503s: budget (max_attempts) is spent, the unit
    # error-skips like the reference's per-obra continue — other units
    # complete untouched.
    with FakeRestServer(n_units=4, faults={("u-002", 0): (503, -1)}) as srv:
        ep = _ep(srv, max_attempts=2)
        df = read_bronze(spark, ep)
        got_units = {r.unit_id for r in df.select("unit_id").collect()}
        assert got_units == {"u-000", "u-001", "u-003"}
        assert srv.hits[("u-002", 0)] == 2  # budget respected


def test_unit_failing_after_page_zero_is_absent(spark):
    # page 0 of u-001 succeeds, page 1 never does: the unit's buffered
    # page-0 rows are dropped with it, so bronze holds no partial unit.
    with FakeRestServer(n_units=3, faults={("u-001", 1): (503, -1)}) as srv:
        df = read_bronze(spark, _ep(srv, max_attempts=2))
        rows = df.select("unit_id", "page").collect()
        assert {r.unit_id for r in rows} == {"u-000", "u-002"}
        assert len(rows) == unit_rows(0) + unit_rows(2)
        assert srv.hits[("u-001", 0)] == 1 and srv.hits[("u-001", 1)] == 2


def test_garbled_200_body_is_retried(spark):
    # one truncated, non-JSON 200 body on (u-001, 1): retried, and the
    # unit lands whole with attempts == 2 on that page.
    with FakeRestServer(n_units=3, faults={("u-001", 1): (200, 1)}) as srv:
        df = read_bronze(spark, _ep(srv))
        rows = df.collect()
        assert len(rows) == sum(unit_rows(k) for k in range(3))
        assert {r.attempts for r in rows if (r.unit_id, r.page) == ("u-001", 1)} == {2}
        assert srv.hits[("u-001", 1)] == 2


def test_non_retriable_status_fails_fast(spark):
    # 404 is not retriable: exactly ONE request, unit skipped.
    with FakeRestServer(n_units=3, faults={("u-000", 0): (404, -1)}) as srv:
        df = read_bronze(spark, _ep(srv))
        got_units = {r.unit_id for r in df.select("unit_id").collect()}
        assert got_units == {"u-001", "u-002"}
        assert srv.hits[("u-000", 0)] == 1


def test_normalize_bronze_types(spark):
    with FakeRestServer(n_units=2) as srv:
        silver = normalize_bronze(
            read_bronze(spark, _ep(srv)),
            "rec_id string, metric int, grp string",
        )
        assert dict(silver.dtypes)["metric"] == "int"
        rows = silver.orderBy("unit_id", "page", "rec_seq").collect()
        assert rows[0].rec_id == "u-000-r0000"
        assert rows[0].metric == record(0, 0)["metric"]
        assert {r.grp for r in rows} <= {"alpha", "beta", "gamma"}


def test_empty_catalog_yields_empty_typed_frame(spark):
    with FakeRestServer(n_units=0) as srv:
        df = read_bronze(spark, _ep(srv))
        assert df.count() == 0
        assert df.schema == spark.createDataFrame([], BRONZE_SCHEMA).schema


def test_backfill_crosses_units_and_dates(spark):
    # (unit x date) work list: each pair fetches its full page run and
    # stamps its own data_referencia (the endpoint serves the same
    # deterministic window content for any date).
    from aws_medallion_datalake_spark.sources.restsource import (
        read_bronze_backfill,
    )

    dates = ["2024-01-01", "2024-01-02", "2024-01-03"]
    with FakeRestServer(n_units=4) as srv:
        df = read_bronze_backfill(spark, _ep(srv), dates).cache()
        per = (
            df.groupBy("unit_id", "data_referencia").count().collect()
        )
        assert len(per) == 4 * 3
        for r in per:
            k = int(r.unit_id.split("-")[1])
            assert r["count"] == unit_rows(k)
        df.unpersist()


def test_fetch_runs_on_executors_one_unit_per_task(spark):
    # The unit frame repartitions to one-unit-per-task so a slow unit
    # cannot convoy others; assert the partitioning survives to the
    # fetch operator (mapInPandas sees n_units partitions).
    with FakeRestServer(n_units=5) as srv:
        ep = _ep(srv)
        token = fetch_token(ep)
        units = list_units(ep, token)
        df = read_bronze(spark, ep, units=units)
        assert df.rdd.getNumPartitions() == 5
