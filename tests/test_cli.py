"""e2e read CLI (reference: e2e/e2e-testing LocalReadCommand — bootstrap
schema, run one query as the org, print rows)."""

from __future__ import annotations

import json

import pytest

from fineo_readerator_spark.cli import main


def test_cli_runs_query_and_prints_json_lines(spark, sf_dir, capsys):
    rc = main(
        [
            "SELECT event_id, user_id FROM events ORDER BY event_id LIMIT 3",
            "--sf-dir",
            sf_dir,
        ],
        spark=spark,
    )
    out = capsys.readouterr().out.strip().splitlines()
    assert rc == 0 and len(out) == 3
    rows = [json.loads(line) for line in out]
    assert rows[0].keys() == {"event_id", "user_id"}
    assert [r["event_id"] for r in rows] == sorted(r["event_id"] for r in rows)


def test_cli_rejects_writes(spark, sf_dir, capsys):
    rc = main(["DROP TABLE events", "--sf-dir", sf_dir], spark=spark)
    assert rc == 1
    assert "rejected" in capsys.readouterr().err


def test_cli_max_rows(spark, sf_dir, capsys):
    rc = main(
        ["SELECT event_id FROM events", "--sf-dir", sf_dir, "--max-rows", "2"],
        spark=spark,
    )
    assert rc == 0
    assert len(capsys.readouterr().out.strip().splitlines()) == 2


def test_cli_loads_serialized_store(spark, sf_dir, tmp_path, capsys):
    from fineo_readerator_spark.plans.metric_queries import events_store

    store_file = tmp_path / "store.json"
    store_file.write_text(events_store(sf_dir).to_json())
    rc = main(
        ["SELECT count(*) AS n FROM events", "--store", str(store_file)], spark=spark
    )
    assert rc == 0
    (line,) = capsys.readouterr().out.strip().splitlines()
    assert json.loads(line)["n"] > 0


def test_cli_requires_exactly_one_bootstrap(spark, capsys):
    assert main(["SELECT 1"], spark=spark) == 2


def test_cli_refuses_duplicate_columns_and_writes_strict_json(spark, sf_dir, capsys):
    """Rows print as maps, so a repeated output name is refused rather than
    silently dropping a column; NaN prints as a string, not a bare token."""
    rc = main(
        ["SELECT event_id AS id, user_id AS id FROM events", "--sf-dir", sf_dir], spark=spark
    )
    assert rc == 1 and "duplicate output column names ['id']" in capsys.readouterr().err

    def refuse(token):
        raise ValueError(token)

    rc = main(["SELECT double('NaN') AS n", "--sf-dir", sf_dir], spark=spark)
    (line,) = capsys.readouterr().out.strip().splitlines()
    assert rc == 0 and json.loads(line, parse_constant=refuse) == {"n": "NaN"}
