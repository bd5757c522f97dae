"""R5 notification seam (plans/planner.py:Notifier).

The reference pushes SNS on both paths: per-table errors from inside
the stage job (aje-stage-dms-load.py:328-337 message dispatch, :560 /
:578 publish sites) and endpoint-level success only when that endpoint
has zero FAILED tables (SendSuccededNotification.py:26-36). These tests
pin the message shapes, the endpoint-level success gate, the
warning-class dispatch, and the swallow-notifier-exceptions contract —
all control-plane, no SparkSession needed.
"""

from __future__ import annotations


from cdk_datalake_ingest_spark.plans.planner import (
    Notifier,
    RunLog,
    RunPlanner,
)
from cdk_datalake_ingest_spark.specs import (
    ConfigCatalog,
    EndpointSpec,
    TableSpec,
)


def _catalog() -> ConfigCatalog:
    return ConfigCatalog(
        tables=[
            TableSpec("t_ok_1", endpoint="EP_A"),
            TableSpec("t_ok_2", endpoint="EP_A"),
            TableSpec("t_bad", endpoint="EP_B"),
            TableSpec("t_ok_3", endpoint="EP_B"),
        ],
        endpoints=[
            EndpointSpec("EP_A", bd_type="file"),
            EndpointSpec("EP_B", bd_type="file"),
        ],
    )


def _run(catalog, notifier, runner, tmp_path):
    log = RunLog(tmp_path / "log.jsonl")
    planner = RunPlanner(
        catalog, run_log=log, base_sleep=0.0, max_attempts=2,
        notifier=notifier,
    )
    return planner.run(runner), log


def test_failure_fires_per_table_and_success_is_endpoint_gated(tmp_path):
    successes: list[tuple[str, str]] = []
    failures: list[tuple[str, str, str]] = []
    notifier = Notifier(
        on_success=lambda ep, msg: successes.append((ep, msg)),
        on_failure=lambda tbl, msg, err: failures.append((tbl, msg, err)),
    )

    def runner(t: TableSpec) -> None:
        if t.target_table_name == "t_bad":
            raise RuntimeError("boom")

    results, log = _run(_catalog(), notifier, runner, tmp_path)
    assert {r.table: r.status for r in results} == {
        "t_ok_1": "SUCCEEDED",
        "t_ok_2": "SUCCEEDED",
        "t_bad": "FAILED",
        "t_ok_3": "SUCCEEDED",
    }
    # EP_A is clean -> exactly one success; EP_B has a FAILED table ->
    # NO success even though t_ok_3 succeeded (the reference's scan
    # filters STATUS_STAGE='FAILED' per ENDPOINT and publishes only on
    # an empty result).
    assert [ep for ep, _ in successes] == ["EP_A"]
    assert successes[0][1] == "Successfully load EP_A"
    # one failure notification per failed table, AFTER retries exhaust
    # (not per attempt), with the reference's Failed-table message.
    assert len(failures) == 1
    tbl, msg, err = failures[0]
    assert tbl == "t_bad"
    assert err == "boom"
    assert msg == "Failed table: t_bad \nStep: stage job \nLog ERROR \nboom"
    assert log.failed_count() == 1


def test_warning_class_message_dispatch():
    # aje-stage-dms-load.py:330: substring match on the error selects
    # the RAW WARNING wording instead of Failed-table.
    msg = Notifier.failure_message(
        "t_empty", "No data detected to migrate. Details are: empty range"
    )
    assert msg.startswith("RAW WARNING in table: t_empty \n")
    assert "Failed table" not in msg


def test_all_endpoints_clean_fires_one_success_each(tmp_path):
    successes: list[str] = []
    notifier = Notifier(on_success=lambda ep, msg: successes.append(ep))
    results, _ = _run(_catalog(), notifier, lambda t: None, tmp_path)
    assert all(r.status == "SUCCEEDED" for r in results)
    assert sorted(successes) == ["EP_A", "EP_B"]


def test_notifier_exceptions_never_break_the_run(tmp_path):
    def explode(*a):  # noqa: ANN002
        raise ConnectionError("sns is down")

    notifier = Notifier(on_success=explode, on_failure=explode)

    def runner(t: TableSpec) -> None:
        if t.target_table_name == "t_bad":
            raise RuntimeError("boom")

    results, log = _run(_catalog(), notifier, runner, tmp_path)
    # run completed and statuses are intact despite the notifier dying
    # on both paths (SendSuccededNotification catches and returns
    # FAILED without propagating).
    assert {r.table: r.status for r in results}["t_bad"] == "FAILED"
    assert log.failed_count() == 1


def test_no_notifier_is_the_default_and_harmless(tmp_path):
    results, _ = _run(_catalog(), None, lambda t: None, tmp_path)
    assert all(r.status == "SUCCEEDED" for r in results)


def test_duplicate_table_names_across_endpoints_do_not_mask_failure(tmp_path):
    # review catch: target_table_name uniqueness is NOT enforced across
    # endpoints; the success gate must key per-spec (zip with results),
    # never per-name, or a later same-named success masks the failure.
    catalog = ConfigCatalog(
        tables=[
            TableSpec("orders", endpoint="EP_A"),   # fails
            TableSpec("orders", endpoint="EP_B"),   # succeeds
        ],
        endpoints=[
            EndpointSpec("EP_A", bd_type="file"),
            EndpointSpec("EP_B", bd_type="file"),
        ],
    )
    successes: list[str] = []
    notifier = Notifier(on_success=lambda ep, msg: successes.append(ep))

    def runner(t: TableSpec) -> None:
        if t.endpoint == "EP_A":
            raise RuntimeError("boom")

    _run(catalog, notifier, runner, tmp_path)
    assert successes == ["EP_B"]  # EP_A must NOT get a success


def test_warning_table_does_not_suppress_endpoint_success(tmp_path):
    """NoDataToMigrateException → STATUS 'WARNING', not 'FAILED'
    (aje-stage-dms-load.py:544-546), and SendSuccededNotification.py
    :26-36 scans STATUS_STAGE='FAILED' only — so an endpoint whose only
    problem tables are no-data warnings still gets the success publish.
    The warning still fires the per-table notification (both except
    branches call send_error_message, :560/:578) with the RAW WARNING
    wording."""
    from cdk_datalake_ingest_spark.operators.table import (
        NoDataToMigrateException,
    )

    successes: list[str] = []
    failures: list[tuple[str, str, str]] = []
    notifier = Notifier(
        on_success=lambda ep, msg: successes.append(ep),
        on_failure=lambda tbl, msg, err: failures.append((tbl, msg, err)),
    )
    attempts: list[str] = []

    def runner(t: TableSpec) -> None:
        attempts.append(t.target_table_name)
        if t.target_table_name == "t_bad":
            raise NoDataToMigrateException()

    results, log = _run(_catalog(), notifier, runner, tmp_path)
    assert {r.table: r.status for r in results}["t_bad"] == "WARNING"
    # BOTH endpoints succeed: EP_B's only problem table is a warning
    assert sorted(successes) == ["EP_A", "EP_B"]
    # the per-table notification fired with the warning wording
    assert len(failures) == 1
    assert failures[0][0] == "t_bad"
    assert failures[0][1].startswith("RAW WARNING in table: t_bad")
    # the run log records WARNING (not FAILED): the A8 crawler gate
    # (failed_count) must not count it
    assert log.failed_count() == 0
    statuses = {r["task_name"]: r["task_status"] for r in log.records()}
    assert statuses["t_bad"] == "WARNING"
    # no-data is terminal-by-design: exactly ONE attempt, no retries
    # (the reference's job catches it and exits cleanly — Step
    # Functions never re-runs it)
    assert attempts.count("t_bad") == 1


def test_failed_and_warning_mix_still_suppresses_success(tmp_path):
    # a genuinely FAILED table on the same endpoint as a WARNING table
    # still suppresses the endpoint's success publish
    catalog = ConfigCatalog(
        tables=[
            TableSpec("t_warn", endpoint="EP_A"),
            TableSpec("t_fail", endpoint="EP_A"),
        ],
        endpoints=[EndpointSpec("EP_A", bd_type="file")],
    )
    successes: list[str] = []
    notifier = Notifier(on_success=lambda ep, msg: successes.append(ep))

    def runner(t: TableSpec) -> None:
        if t.target_table_name == "t_warn":
            raise RuntimeError("no data detected to migrate")
        raise RuntimeError("boom")

    results, log = _run(catalog, notifier, runner, tmp_path)
    assert successes == []
    assert {r.table: r.status for r in results} == {
        "t_warn": "WARNING",
        "t_fail": "FAILED",
    }
    assert log.failed_count() == 1


def test_flow_not_ready_requeues_without_burning_a_slot_or_retries(tmp_path):
    """R4 Map+Wait wiring (r12 verdict task #8): a runner raising
    FlowNotReadyError (the AppFlow CREATING answer) is requeued on the
    wait heap — it must not burn retry attempts, must not be FAILED,
    and must not hold a pool slot while waiting (other tables proceed
    even at max_concurrency=1)."""
    from cdk_datalake_ingest_spark.plans.planner import (
        FlowNotReadyError,
        Notifier,
        RunLog,
        RunPlanner,
    )

    catalog = ConfigCatalog(
        tables=[
            TableSpec("sf_slow", endpoint="EP_SF"),
            TableSpec("t_fast", endpoint="EP_SF"),
        ],
        endpoints=[EndpointSpec("EP_SF", bd_type="file")],
    )
    polls = {"n": 0}
    order: list[str] = []

    def runner(t: TableSpec) -> None:
        order.append(t.target_table_name)
        if t.target_table_name == "sf_slow":
            polls["n"] += 1
            if polls["n"] <= 3:  # CREATING for the first three polls
                raise FlowNotReadyError("flow ajedtlk-accounthr CREATING")

    successes: list[str] = []
    log = RunLog(tmp_path / "log.jsonl")
    planner = RunPlanner(
        catalog,
        run_log=log,
        base_sleep=0.0,
        max_attempts=2,
        max_concurrency=1,  # one slot: a blocked poll would serialize
        flow_wait_seconds=0.0,
        notifier=Notifier(on_success=lambda ep, msg: successes.append(ep)),
    )
    results = planner.run(runner)
    assert {r.table: r.status for r in results} == {
        "sf_slow": "SUCCEEDED",
        "t_fast": "SUCCEEDED",
    }
    # the fast table ran while the slow flow was waiting (slot released:
    # with max_concurrency=1, a blocking poll would have forced t_fast
    # after ALL sf_slow polls; requeueing lets it interleave)
    assert order.index("t_fast") < len(order) - 1
    assert polls["n"] == 4  # 3 CREATING answers + the success run
    assert successes == ["EP_SF"]
    assert log.failed_count() == 0


def test_flow_wait_budget_exhaustion_fails_the_table(tmp_path):
    from cdk_datalake_ingest_spark.plans.planner import (
        FlowNotReadyError,
        Notifier,
        RunLog,
        RunPlanner,
    )

    catalog = ConfigCatalog(
        tables=[TableSpec("sf_stuck", endpoint="EP_SF")],
        endpoints=[EndpointSpec("EP_SF", bd_type="file")],
    )

    def runner(t: TableSpec) -> None:
        raise FlowNotReadyError("still CREATING")

    failures: list[str] = []
    successes: list[str] = []
    log = RunLog(tmp_path / "log.jsonl")
    planner = RunPlanner(
        catalog,
        run_log=log,
        base_sleep=0.0,
        flow_wait_seconds=0.0,
        max_flow_waits=2,
        notifier=Notifier(
            on_success=lambda ep, msg: successes.append(ep),
            on_failure=lambda tbl, msg, err: failures.append(tbl),
        ),
    )
    results = planner.run(runner)
    assert results[0].status == "FAILED"
    assert "after 2 waits" in results[0].error
    assert failures == ["sf_stuck"]
    assert successes == []  # a stuck flow suppresses endpoint success
    assert log.failed_count() == 1


def test_retry_budget_carries_across_wait_requeues(tmp_path):
    """ADVICE r13: a runner interleaving transient failures with
    not-ready answers must stay bounded by max_attempts TOTAL transient
    failures across all wait cycles — wait requeues must not reset the
    retry counter (previously up to max_attempts × (max_flow_waits+1)
    executions). Not-ready probes themselves stay free (wait budget)."""
    from cdk_datalake_ingest_spark.plans.planner import (
        FlowNotReadyError,
        RunLog,
        RunPlanner,
    )

    catalog = ConfigCatalog(
        tables=[TableSpec("t_flaky", endpoint="EP")],
        endpoints=[EndpointSpec("EP", bd_type="file")],
    )
    calls = {"fail": 0, "notready": 0}

    def runner(t: TableSpec) -> None:
        # alternate: transient failure, then CREATING, forever
        if (calls["fail"] + calls["notready"]) % 2 == 0:
            calls["fail"] += 1
            raise RuntimeError("transient")
        calls["notready"] += 1
        raise FlowNotReadyError("CREATING")

    log = RunLog(tmp_path / "log.jsonl")
    planner = RunPlanner(
        catalog,
        run_log=log,
        base_sleep=0.0,
        max_attempts=3,
        flow_wait_seconds=0.0,
        max_flow_waits=50,
    )
    results = planner.run(runner)
    assert [r.status for r in results] == ["FAILED"]
    # exactly max_attempts transient failures were admitted in total,
    # no matter how many wait cycles interleaved
    assert calls["fail"] == 3
    # and the wait budget was nowhere near exhausted — the failure is
    # the retry budget's, not the flow-wait envelope's
    assert calls["notready"] < 50
