"""End-to-end tests of the PlanService facade against the reference contract."""

from __future__ import annotations

import pytest

from hive_plan_service_spark.api import PlanService


@pytest.fixture(scope="module")
def svc(spark, sf_dir, tmp_path_factory):
    s = PlanService(spark, sf_dir, warehouse=str(tmp_path_factory.mktemp("wh")))
    assert s.refresh()["code"] == 200
    return s


def test_refresh_then_get_plans(svc):
    res = svc.get_plans()
    assert res["code"] == 200
    plans = res["data"]
    assert len(plans) == 25  # one per nation
    ids = sorted(p["id"] for p in plans)
    assert ids == [1 << i for i in range(25)]  # power-of-two ids
    assert all(set(p) == {"id", "title", "optional"} for p in plans)


def test_get_plan_groups_nested(svc):
    res = svc.get_plan_groups()
    assert res["code"] == 200
    groups = res["data"]
    assert len(groups) == 5  # one per region
    for g in groups:
        # every member appears exactly once; mask reconstructs exactly
        member_ids = [p["id"] for p in g["plans"]]
        assert len(member_ids) == len(set(member_ids))
        rebuilt = 0
        for i in member_ids:
            rebuilt |= i
        assert rebuilt == g["mask"]
        assert member_ids == sorted(member_ids)  # bit-order iteration


def test_counter_lifecycle(svc):
    assert svc.get_joined_count()["data"] == 0  # missing → 0 (A12)
    assert svc.increase_joined_count()["data"] == 1  # INCR (A9)
    assert svc.increase_joined_count()["data"] == 2
    assert svc.decrease_joined_count()["data"] == 1  # DECR (A10)
    assert svc.set_joined_count(100)["data"] == 100  # SET override (A11)
    assert svc.increase_joined_count()["data"] == 101
    res = svc.set_joined_count("oops")  # numberVerifier → 400
    assert res["code"] == 400
    assert svc.get_joined_count()["data"] == 101


def test_permission_gating(svc):
    # reads open to mobile, mutations admin-only (plan-server.ts:25–26)
    assert svc.get_plans(role="mobile")["code"] == 200
    assert svc.increase_joined_count(role="mobile")["code"] == 403
    assert svc.set_joined_count(5, role="mobile")["code"] == 403
    assert svc.refresh(role="mobile")["code"] == 403
    assert svc.get_joined_count(role="unknown")["code"] == 403


def test_refresh_error_envelope(spark, sf_dir):
    # unwritable warehouse → the refresh job fails → {code: 500} envelope
    # (processor:82–85), not an exception escaping the service surface
    bad = PlanService(spark, sf_dir, warehouse="/proc/hpss_cannot_write")
    res = bad.refresh()
    assert res["code"] == 500
    assert "msg" in res


def test_reads_before_refresh_return_empty(spark, sf_dir, tmp_path):
    # reading before any refresh == empty Redis cache: {code:200, data:[]}
    fresh = PlanService(spark, sf_dir, warehouse=str(tmp_path / "never_refreshed"))
    assert fresh.get_plans() == {"code": 200, "data": []}
    assert fresh.get_plan_groups() == {"code": 200, "data": []}
    assert fresh.get_joined_count()["data"] == 0


def test_corrupt_materialization_reads_fail_loudly(spark, sf_dir, tmp_path):
    # only a never-written cache is empty (hvals, server:32,42); an
    # unreadable one answers the {code: 500} envelope (processor:82–85)
    svc = PlanService(spark, sf_dir, warehouse=str(tmp_path / "wh"))
    assert svc.refresh()["code"] == 200
    bad = tmp_path / "wh" / "plan_entities"
    for f in bad.iterdir():
        f.unlink()
    (bad / "part-00000.parquet").write_bytes(b"not a parquet file")
    res = svc.get_plans()
    assert res["code"] == 500
    assert "msg" in res
    assert svc.get_plan_groups()["code"] == 200
