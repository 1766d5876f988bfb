"""applyInPandasWithState operators: cross-micro-batch state survival."""

from __future__ import annotations

import json

from timesearch_spark.streaming import stateful

SCHEMA = "idstr string, author string, submission string, created long"


def _drop_dir(tmp_path, name, batches):
    d = tmp_path / name
    d.mkdir()
    for i, rows in enumerate(batches):
        (d / f"b{i}.jsonl").write_text(
            "\n".join(
                json.dumps(
                    dict(zip(("idstr", "author", "submission", "created"), r))
                )
                for r in rows
            )
        )
    return d


def _run_update(spark, df, sink, tmp_path):
    import time

    q = (
        df.writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / f"ckpt_{sink}"))
        .trigger(availableNow=True)
        .start()
    )
    # availableNow queries normally self-terminate — but a stateful
    # operator holding processing-time timers (scan_state's settled
    # timeout) spins empty "cleaning up state" batches forever waiting
    # for the 30-min timer, which used to burn the full 120 s wait AND
    # leak a live query into the rest of the suite.  An empty batch
    # numbered past the last batch that read rows means the source is
    # drained and the data batches are committed, so stop explicitly at
    # that point — an empty tick before any data batch (start-up, or a
    # progress report lagging the data) does not.
    deadline = time.time() + 120
    while q.isActive and time.time() < deadline:
        if q.awaitTermination(1):
            break
        data_batches = [p["batchId"] for p in q.recentProgress
                        if p.get("numInputRows", 0) > 0]
        lp = q.lastProgress
        if (lp is not None and data_batches
                and lp.get("numInputRows", 0) == 0
                and lp["batchId"] > max(data_batches)):
            break
    if q.isActive:
        q.stop()
        q.awaitTermination(30)
    return spark.sql(f"SELECT * FROM {sink}")


def test_running_author_counts_accumulate_across_batches(spark, tmp_path):
    # two files → with maxFilesPerTrigger=1, two micro-batches
    d = _drop_dir(
        tmp_path,
        "in_state",
        [
            [
                ("t3_a", "u1", "t3_a", 100),
                ("t1_b", "u1", "t3_a", 110),
                ("t1_c", "u2", "t3_a", 120),
            ],
            [
                ("t1_d", "u1", "t3_a", 200),
                ("t3_e", "u2", "t3_e", 210),
            ],
        ],
    )
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    out = _run_update(
        spark, stateful.running_author_counts(stream), "auth_state", tmp_path
    ).collect()
    # last emitted row per author carries the cumulative totals
    final = {}
    for r in sorted(out, key=lambda r: r["last_created"]):
        final[r["author"]] = (r["n_submissions"], r["n_comments"], r["last_created"])
    assert final["u1"] == (1, 2, 200)
    assert final["u2"] == (1, 1, 210)


def test_scan_state_counts_per_submission(spark, tmp_path):
    d = _drop_dir(
        tmp_path,
        "in_scan",
        [
            [
                ("t1_b", "u1", "t3_a", 110),
                ("t1_c", "u2", "t3_a", 120),
                ("t1_x", "u3", "t3_z", 130),
            ],
        ],
    )
    stream = spark.readStream.schema(SCHEMA).json(str(d))
    out = _run_update(
        spark, stateful.scan_state(stream.drop("author")), "scan_state", tmp_path
    ).collect()
    got = {r["submission"]: (r["n_comments"], r["last_created"], r["settled"])
           for r in out}
    assert got["t3_a"] == (2, 120, False)
    assert got["t3_z"] == (1, 130, False)
