import pandas as pd
import pytest


@pytest.fixture(scope="session")
def spark():
    from tpc_di_spark.session import get_spark

    s = get_spark(app_name="tpc-di-spark-tests", cores=8, shuffle_partitions=8)
    yield s


def normalize(pdf: pd.DataFrame, sort_cols) -> pd.DataFrame:
    out = pdf.copy()
    for c in out.columns:
        if out[c].dtype == object:
            out[c] = out[c].where(pd.notna(out[c]), None)
    return out.sort_values(list(sort_cols)).reset_index(drop=True)


def assert_pdf_equal(left: pd.DataFrame, right: pd.DataFrame, sort_cols) -> None:
    l, r = normalize(left, sort_cols), normalize(right, sort_cols)
    pd.testing.assert_frame_equal(l, r, check_dtype=False, check_like=True)


def refresh_jobs(spark, consumer, group: str) -> int:
    """Spark jobs one ``consumer.refresh()`` launches, counted by job
    group (pooled applies inherit the caller's group)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "consumer refresh job count")
    try:
        consumer.refresh()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def bucket_holding_closes(table, batch_id: int) -> int:
    """A bucket whose history files hold some of ``batch_id``'s closes —
    the target of a one-bucket compaction (what threshold compaction
    does), which leaves the batch's closing tags in the other buckets."""
    tag = f"batch-{batch_id:06d}"
    return next(
        int(b)
        for b, fl in sorted(table.snapshot.hist_files.items())
        if any(tag in rel for rel in fl)
    )


def _generate_nodes(node, compiled=False):
    """Yield, per ``Generate`` node of a physical plan, whether it runs
    inside whole-stage codegen: below a ``WholeStageCodegen`` node and
    not cut off from it by an ``InputAdapter`` (a stage boundary)."""
    name = node.nodeName()
    if name.startswith("WholeStageCodegen"):
        compiled = True
    elif name == "InputAdapter":
        compiled = False
    elif name == "Generate":
        yield compiled
    kids = node.children()
    for i in range(kids.size()):
        yield from _generate_nodes(kids.apply(i), compiled)


def assert_compiled_plan(df) -> int:
    """Assert that ``df``'s physical plan has no higher-order function
    (they have no code generation) and that every ``Generate`` runs
    inside whole-stage codegen. Plans with AQE off (its initial plan
    defers stage codegen) and with no expression string truncated.
    Returns the number of ``Generate`` nodes checked."""
    spark = df.sparkSession
    confs = {"spark.sql.adaptive.enabled": "false", "spark.sql.debug.maxToStringFields": "100000"}
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        plan = df.select("*")._jdf.queryExecution().executedPlan()
        text = plan.toString()
        generates = list(_generate_nodes(plan))
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "lambdafunction" not in text.lower(), text
    assert all(generates), text
    return len(generates)
