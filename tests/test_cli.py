"""CLI (python -m melt_spark): EDN spec → load → outbox → compact, in
process (main() reuses the session via getOrCreate)."""

import json

from melt_spark.cli import main

SPEC = """[{:jdbc.melt/name "nation" :jdbc.melt/schema "main"
            :jdbc.melt/keys #{:n_nationkey}}
           {:name "region" :keys #{:r_regionkey} :topic "melt.alt.region"}]
"""


def test_cli_load_compact_spec_check(spark, sf_dir, tmp_path, capsys):
    spec = tmp_path / "sources.edn"
    spec.write_text(SPEC)
    outbox = str(tmp_path / "outbox")

    assert main(["spec-check", "--sources", str(spec)]) == 0
    lines = [json.loads(ln) for ln
             in capsys.readouterr().out.strip().splitlines()]
    assert lines[0]["topic"] == "melt.main.nation"
    assert lines[1]["topic"] == "melt.alt.region"
    assert lines[0]["keys"] == ["n_nationkey"]

    assert main(["load", "--sources", str(spec), "--parquet-dir", sf_dir,
                 "--outbox", outbox]) == 0
    sent = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    n_nation = spark.read.parquet(f"{sf_dir}/nation.parquet").count()
    n_region = spark.read.parquet(f"{sf_dir}/region.parquet").count()
    assert sent["sent"] == {"melt.main.nation": n_nation,
                            "melt.alt.region": n_region}

    assert main(["compact", "--outbox", outbox]) == 0
    rows = [json.loads(ln) for ln
            in capsys.readouterr().out.strip().splitlines()]
    assert len(rows) == n_nation + n_region
    assert all(r["value"] is not None for r in rows)  # no tombstones sent
    nation_keys = {r["key"] for r in rows
                   if r["topic"] == "melt.main.nation"}
    assert len(nation_keys) == n_nation  # canonical key per PK


def test_cli_sample(spark, sf_dir, tmp_path, capsys):
    spec = tmp_path / "s.edn"
    spec.write_text('{:name "region" :keys #{:r_regionkey}}')
    out = str(tmp_path / "samples")
    assert main(["sample", "--sources", str(spec), "--parquet-dir", sf_dir,
                 "--out", out, "-n", "3"]) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["sampled"] == ["region"]


def test_cli_sync_repairs_drift(spark, sf_dir, tmp_path, capsys):
    from melt_spark.operators.outbox import write_outbox

    spec = tmp_path / "s.edn"
    spec.write_text('{:name "region" :keys #{:r_regionkey}}')
    outbox = str(tmp_path / "outbox")

    assert main(["load", "--sources", str(spec), "--parquet-dir", sf_dir,
                 "--outbox", outbox]) == 0
    capsys.readouterr()

    # drift: overwrite one key with a bogus value, add one stray key
    drift = spark.createDataFrame(
        [("melt.main.region", '{"r_regionkey":0}', '{"bogus":true}'),
         ("melt.main.region", '{"r_regionkey":999}', '{"stray":1}')],
        "topic string, key string, value string")
    write_outbox(drift, outbox, batch_id=1)

    # verify: out of sync -> exit 1, nothing repaired
    assert main(["sync", "--sources", str(spec), "--parquet-dir", sf_dir,
                 "--outbox", outbox, "--check-only"]) == 1
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["total_out_of_sync"] == 2 and not rep["repaired"]
    sides = rep["topics"]["melt.main.region"]
    assert sides["table_only"] == 1 and sides["topic_only"] == 1

    # repair, then verify clean
    assert main(["sync", "--sources", str(spec), "--parquet-dir", sf_dir,
                 "--outbox", outbox, "--batch-id", "2"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["total_out_of_sync"] == 2 and rep["repaired"]
    sides = rep["topics"]["melt.main.region"]
    assert sides["table_only"] == 1 and sides["topic_only"] == 1
    assert main(["sync", "--sources", str(spec), "--parquet-dir", sf_dir,
                 "--outbox", outbox, "--check-only"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["total_out_of_sync"] == 0


def test_cli_sync_default_batch_id_always_wins(spark, sf_dir, tmp_path,
                                               capsys):
    """Without --batch-id the repair batch derives max(batch_id)+1 from the
    outbox, so repeated repair runs always beat the stale rows they target
    (a fixed default id would tie with earlier repairs and let overlapping
    monotonically_increasing_id seq values pick a nondeterministic
    winner)."""
    from melt_spark.operators.outbox import read_outbox, write_outbox

    spec = tmp_path / "s.edn"
    spec.write_text('{:name "region" :keys #{:r_regionkey}}')
    outbox = str(tmp_path / "outbox")

    assert main(["load", "--sources", str(spec), "--parquet-dir", sf_dir,
                 "--outbox", outbox]) == 0
    capsys.readouterr()

    # two successive drift+repair cycles, neither passing --batch-id
    for round_no, bogus in enumerate(('{"bogus":1}', '{"bogus":2}')):
        stale_id = round_no * 2 + 1  # above the previous repair's id
        drift = spark.createDataFrame(
            [("melt.main.region", '{"r_regionkey":0}', bogus)],
            "topic string, key string, value string")
        write_outbox(drift, outbox, batch_id=stale_id)
        assert main(["sync", "--sources", str(spec), "--parquet-dir",
                     sf_dir, "--outbox", outbox]) == 0
        capsys.readouterr()
        assert main(["sync", "--sources", str(spec), "--parquet-dir",
                     sf_dir, "--outbox", outbox, "--check-only"]) == 0
        rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rep["total_out_of_sync"] == 0
        top = read_outbox(spark, outbox).agg({"batch_id": "max"}).collect()
        assert top[0][0] == stale_id + 1  # repair landed ABOVE the drift


def test_cli_compact_limit_truncates(spark, sf_dir, tmp_path, capsys):
    """compact without --out streams via toLocalIterator and --limit bounds
    the dump instead of collecting the whole state on the driver."""
    spec = tmp_path / "s.edn"
    spec.write_text('{:name "nation" :keys #{:n_nationkey}}')
    outbox = str(tmp_path / "outbox")
    assert main(["load", "--sources", str(spec), "--parquet-dir", sf_dir,
                 "--outbox", outbox]) == 0
    capsys.readouterr()

    assert main(["compact", "--outbox", outbox, "--limit", "5"]) == 0
    cap = capsys.readouterr()
    rows = [json.loads(ln) for ln in cap.out.strip().splitlines()]
    assert len(rows) == 5
    assert "truncated_at" in cap.err
    # keys stream in sorted order even when truncated
    assert [r["key"] for r in rows] == sorted(r["key"] for r in rows)

    # --limit 0 = unlimited
    n_nation = spark.read.parquet(f"{sf_dir}/nation.parquet").count()
    assert main(["compact", "--outbox", outbox, "--limit", "0"]) == 0
    cap = capsys.readouterr()
    assert len(cap.out.strip().splitlines()) == n_nation


def test_cli_tail_once_compacts_broker(spark, sf_dir, tmp_path, capsys):
    """load --broker, then tail --once: end-to-end produce -> continuous
    consume -> keyed state, all through the CLI."""
    from melt_spark.sources import mock_broker as mb

    spec = tmp_path / "s.edn"
    spec.write_text('{:name "region" :keys #{:r_regionkey}}')
    broker = str(tmp_path / "broker")
    mb.register(spark)
    mb.create_topic(broker, "melt.main.region", partitions=2)

    assert main(["load", "--sources", str(spec), "--parquet-dir", sf_dir,
                 "--broker", broker]) == 0
    capsys.readouterr()

    assert main(["tail", "--broker", broker, "--topics", "melt.main.region",
                 "--state", str(tmp_path / "state"),
                 "--checkpoint", str(tmp_path / "ckpt"), "--once"]) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    n_region = spark.read.parquet(f"{sf_dir}/region.parquet").count()
    assert res["state_rows"] == n_region
    from melt_spark.streaming.foreach_merge import KeyedStateSink
    state = KeyedStateSink(spark, str(tmp_path / "state"),
                           key_cols=("topic", "key"),
                           order_col="offset").compacted_view()
    assert state.filter("value IS NULL").count() == 0
    assert state.count() == n_region


def test_cli_query_and_explain(spark, sf_dir, capsys):
    import pytest

    # --count: row count only
    assert main(["query", "latest_state", "--sf-dir", sf_dir,
                 "--count"]) == 0
    out = json.loads(capsys.readouterr().out.strip())
    assert out["rows"] > 0

    # row mode streams JSON lines, bounded by --limit
    assert main(["query", "tpch_q1", "--sf-dir", sf_dir,
                 "--limit", "2"]) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert 1 <= len(lines) <= 2
    assert "l_returnflag" in json.loads(lines[0])

    # constituent (non-merged) names resolve too
    assert main(["query", "tpch_q5", "--sf-dir", sf_dir, "--count"]) == 0
    assert json.loads(capsys.readouterr().out.strip())["rows"] > 0

    # explain: audit JSON with pushdown evidence
    assert main(["explain", "tpch_q5", "--sf-dir", sf_dir]) == 0
    audit = json.loads(capsys.readouterr().out.strip())
    assert audit["broadcast_joins"] >= 4
    assert audit["shuffle_exchanges"] <= 2
    assert any("r_name" in f for f in audit["pushed_filters"])

    with pytest.raises(SystemExit):
        main(["query", "no_such_query", "--sf-dir", sf_dir])
