"""jobs/extract_job.py end to end: main() over a tiny documents/media
fixture ends with one JSON summary line on stdout."""

import json
import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs")
)


def test_extract_job_prints_one_json_summary(spark, monkeypatch, capsys, tmp_path):
    import extract_job

    from newocr_spark.artifacts import get_model
    from newocr_spark.fixtures import corpus_fixture_tables
    from newocr_spark.pipeline import session

    docs, media = corpus_fixture_tables(spark, "/root/testdata/sf0.001", get_model(), max_docs=6)
    docs.write.parquet(str(tmp_path / "documents"))
    media.write.parquet(str(tmp_path / "media"))
    monkeypatch.setattr(session, "build_session", lambda app: spark)
    monkeypatch.setattr(sys, "argv", [
        "extract_job.py",
        "--documents", str(tmp_path / "documents"), "--media", str(tmp_path / "media"),
        "--output", str(tmp_path / "out"), "--state", str(tmp_path / "state"),
        "--snapshot", "snap-1", "--run-id", "run-1", "--buckets", "4", "--group-size", "2",
    ])
    capsys.readouterr()

    extract_job.main()

    summary = json.loads(capsys.readouterr().out.splitlines()[-1])
    assert summary["buckets_done"] == 4
    assert summary["groups_run"] == 2
