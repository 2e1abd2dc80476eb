"""CLI parity subcommands (ref: cmd/bleve/cmd/{create,count,fields,
dictionary,dump,check,bulk}.go) driven through tools/spark_job.py's
main() with a shared local session."""

import json
import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
import spark_job  # noqa: E402

BASE = "/tmp/bleve_spark_cli_test"


@pytest.fixture(scope="module")
def cli_index(spark):
    shutil.rmtree(BASE, ignore_errors=True)
    os.makedirs(BASE)
    idx_path = f"{BASE}/idx"
    # create + bulk load ndjson
    data = f"{BASE}/docs.ndjson"
    with open(data, "w") as f:
        for i, body in enumerate(
            ["red fox runs fast", "blue cow sleeps", "red cow jumps",
             "the fox and the cow"]
        ):
            f.write(json.dumps({"_id": f"d{i}", "body": body}) + "\n")
    spark_job.main(
        ["create", "--index", idx_path, "--mapping", "dynamic"]
    )
    spark_job.main(
        ["bulk", "--index", idx_path, "--mapping", "dynamic", data]
    )
    return idx_path


def run_cli(capsys, *argv):
    spark_job.main(list(argv))
    return capsys.readouterr().out


def test_cli_count_fields(cli_index, capsys):
    out = run_cli(
        capsys, "count", "--index", cli_index, "--mapping", "dynamic"
    )
    assert json.loads(out.splitlines()[-1])["count"] == 4
    out = run_cli(
        capsys, "fields", "--index", cli_index, "--mapping", "dynamic"
    )
    assert any(line.endswith(" body") for line in out.splitlines())


def test_cli_dictionary(cli_index, capsys):
    out = run_cli(
        capsys, "dictionary", "--index", cli_index, "--field", "body",
        "--mapping", "dynamic",
    )
    entries = dict(
        line.rsplit(" - ", 1) for line in out.splitlines() if " - " in line
    )
    assert entries["fox"] == "2"
    assert entries["cow"] == "3"
    # sorted order (FieldDict contract)
    terms = [k for k in entries]
    assert terms == sorted(terms)


def test_cli_dump(cli_index, capsys):
    out = run_cli(
        capsys, "dump", "--index", cli_index, "--mapping", "dynamic",
        "--limit", "3",
    )
    assert '"segments"' in out and "-- postings" in out
    out = run_cli(
        capsys, "dump", "--index", cli_index, "--doc-id", "d0",
        "--mapping", "dynamic",
    )
    lines = [json.loads(x) for x in out.splitlines()]
    assert lines[0]["doc"]["body"] == "red fox runs fast"
    terms = {d.get("term") for d in lines[1:]}
    assert {"red", "fox", "runs", "fast"} <= terms
    fox = next(d for d in lines[1:] if d.get("term") == "fox")
    assert fox["tf"] == 1 and fox["positions"] == [2]


def test_cli_check_clean_and_corrupt(cli_index, capsys):
    out = run_cli(
        capsys, "check", "--index", cli_index, "--mapping", "dynamic",
        "--count", "5",
    )
    assert json.loads(out.splitlines()[-1])["problems"] == 0
    # check 1 ran each sampled term on the local and the Spark route
    assert "checked field 'body': 5 terms on both routes" in out

    def corrupt(name, edit):
        path = f"{BASE}/{name}"
        shutil.copytree(cli_index, path)
        entry = os.path.join(path, "_log", sorted(os.listdir(f"{path}/_log"))[0])
        with open(entry) as f:
            actions = json.load(f)
        edit(next(a["add_segment"] for a in actions if "add_segment" in a))
        with open(entry, "w") as f:
            json.dump(actions, f)
        with pytest.raises(SystemExit):
            spark_job.main(
                ["check", "--index", path, "--mapping", "dynamic",
                 "--count", "2"]
            )
        return capsys.readouterr().out

    # one logged field doc count off by one -> exactly that problem
    def miscount(add):
        add["fields"]["body"][0] += 1

    out = corrupt("miscounted", miscount)
    assert json.loads(out.splitlines()[-1])["problems"] == 1
    assert "field 'body' logs doc_count" in out

    # shrink a segment's docid range -> check trips
    def shrink(add):
        add["docid_end"] = add["docid_start"]  # claim zero docs

    assert "PROBLEM" in corrupt("broken", shrink)


def test_cli_build_publishes_one_commit(spark, capsys):
    from bleve_spark.corpus import generate_corpus

    corpus = f"{BASE}/build-corpus"
    spark.createDataFrame(
        generate_corpus(40).drop(columns=["content_sha256"])
    ).write.mode("overwrite").parquet(corpus)
    idx_path = f"{BASE}/built"
    shutil.rmtree(idx_path, ignore_errors=True)
    build = ["build", "--corpus", corpus, "--index", idx_path]

    def versions():
        return sorted(os.listdir(f"{idx_path}/_log"))

    out = run_cli(capsys, *build)
    assert json.loads(out.splitlines()[-1])["stages"]
    assert len(versions()) == 1
    assert sorted(os.listdir(idx_path)) == ["_MAPPING.json", "_log", "segments"]
    # the same build again is already done; --no-resume rebuilds
    out = run_cli(capsys, *build)
    assert json.loads(out.splitlines()[-1])["stages"] == []
    assert len(versions()) == 1
    run_cli(capsys, *build, "--no-resume")
    assert len(versions()) == 2
    out = run_cli(capsys, "check", "--index", idx_path, "--count", "2")
    assert json.loads(out.splitlines()[-1]) == {"problems": 0, "segments": 1}


def test_cli_mapping(cli_index, capsys):
    out = run_cli(capsys, "mapping", "--index", cli_index)
    m = json.loads(out)
    assert "fields" in m and "body" in m["fields"]
    assert m["fields"]["body"]["type"] == "text"


def test_cli_create_refuses_existing(cli_index):
    with pytest.raises(SystemExit):
        spark_job.main(
            ["create", "--index", cli_index, "--mapping", "dynamic"]
        )
