"""CLI entry points: the reference's terminal commands as subcommands."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from streamds_spark.cli import main
from tests.conftest import reference_file
import pytest


def _run(argv):
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(argv)
    return rc, buf.getvalue()


def test_cli_grep_count(spark, tmp_path):
    d = tmp_path / "logs"
    d.mkdir()
    (d / "vm0.log").write_text("ERROR a\nok\nERROR b\n")
    (d / "vm1.log").write_text("ERROR c\n")
    rc, out = _run(["grep", "grep -c 'ERROR'", str(d)])
    assert rc == 0
    assert "TOTAL:3" in out


def test_cli_grep_lines(spark, tmp_path):
    d = tmp_path / "logs"
    d.mkdir()
    (d / "vm0.log").write_text("keep me\ndrop\n")
    rc, out = _run(["grep", "grep 'keep'", str(d)])
    assert "keep me" in out


def test_cli_rainstorm_batch(spark, tmp_path):
    path = reference_file("Traffic_Signs_1000.txt")
    dest = str(tmp_path / "out")
    rc, out = _run(["rainstorm", "app2_1", "Punched Telespar", "count_operator", "", path, dest])
    assert rc == 0
    assert "Regulatory" in out
    assert spark.read.parquet(dest).count() > 0


def test_cli_quantify(spark, tmp_path):
    path = reference_file("Traffic_Signs_1000.txt")
    dest = str(tmp_path / "out")
    _run(["rainstorm", "app2_1", "Punched Telespar", "count_operator", "", path, dest])
    rc, out = _run(["quantify", dest])
    assert rc == 0 and "records:" in out and "distinct:" in out


def test_cli_shell_loop(spark, tmp_path, monkeypatch):
    """Interactive shell: SQL + error recovery + quit, driven via stdin."""
    import io as _io
    import sys as _sys

    d = tmp_path / "logs"
    d.mkdir()
    (d / "vm0.log").write_text("ERROR a\nok\n")
    fake_in = _io.StringIO(
        "SELECT 1 AS one\n"
        "not valid sql at all\n"
        "grep -c 'ERROR'\n"
        "quit\n"
    )
    monkeypatch.setattr(_sys, "stdin", fake_in)
    rc, out = _run(["shell", "--logs", str(d)])
    assert rc == 0
    assert "1" in out.splitlines()[0]
    assert "ERR:" in out
    assert "TOTAL:1" in out


def test_cli_rainstorm_stream_mode(spark, tmp_path):
    """The --stream CLI branch: streaming RainStorm job with checkpoint,
    printing the final (latest-batch) counts."""
    src = tmp_path / "in"
    src.mkdir()
    (src / "a.txt").write_text("x y\nx z\n")
    dest = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    rc, out = _run(
        [
            "rainstorm", "split_operator", "", "count_operator", "",
            str(src), dest, "--stream", "--checkpoint", ckpt,
        ]
    )
    assert rc == 0
    got = dict(
        line.split("\t") for line in out.strip().splitlines() if "\t" in line
    )
    assert got == {"x": "2", "y": "1", "z": "1"}


def test_cli_dedup_command(spark, tmp_path, capsys):
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta"),
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "one two three four five six"),
        ],
        "doc_id: long, text: string",
    ).write.parquet(src)
    dest = str(tmp_path / "kept.parquet")
    from streamds_spark.cli import main

    assert main(["dedup", src, dest]) == 0
    out = capsys.readouterr().out
    assert "input:3 kept:2 dropped:1" in out
    kept_ids = {r.doc_id for r in spark.read.parquet(dest).collect()}
    assert kept_ids == {0, 2}


def test_cli_decontaminate_command(spark, tmp_path, capsys):
    src = str(tmp_path / "corpus.parquet")
    bench = str(tmp_path / "bench.parquet")
    spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "completely unrelated clean document text here"),
        ],
        "doc_id: long, text: string",
    ).write.parquet(src)
    spark.createDataFrame(
        [(100, "quick brown fox jumps")], "doc_id: long, text: string"
    ).write.parquet(bench)
    dest = str(tmp_path / "clean.parquet")
    from streamds_spark.cli import main

    assert main(["decontaminate", src, bench, dest]) == 0
    assert "input:2 clean:1 contaminated:1" in capsys.readouterr().out
    assert {r.doc_id for r in spark.read.parquet(dest).collect()} == {1}


def test_cli_scrub_substrings_command(spark, tmp_path, capsys):
    boiler = "one two three four five six seven eight"  # 8 tokens, repeated
    src = str(tmp_path / "docs2.parquet")
    spark.createDataFrame(
        [(0, f"intro {boiler} outro"), (1, f"{boiler} tail"), (2, "unique words only")],
        "doc_id: long, text: string",
    ).write.parquet(src)
    dest = str(tmp_path / "scrubbed.parquet")
    from streamds_spark.cli import main

    assert main(["scrub-substrings", src, dest]) == 0
    out = capsys.readouterr().out
    assert "docs:3 spans:2 tokens_removed:16" in out
    rows = {r.doc_id: r.cleaned_text for r in spark.read.parquet(dest).collect()}
    assert rows[0] == "intro outro" and rows[1] == "tail"
    assert rows[2] == "unique words only"

    # --keep-one: doc 0 owns the min (doc_id, pos) occurrence and keeps it
    dest2 = str(tmp_path / "scrubbed_keep.parquet")
    assert main(["scrub-substrings", src, dest2, "--keep-one", "--hash-shingles"]) == 0
    out = capsys.readouterr().out
    assert "docs:3 spans:1 tokens_removed:8" in out
    rows = {r.doc_id: r.cleaned_text for r in spark.read.parquet(dest2).collect()}
    assert rows[0] == f"intro {boiler} outro" and rows[1] == "tail"


@pytest.mark.slow
def test_cli_filter_corpus_command(spark, tmp_path, capsys):
    good = (
        "the quick brown fox jumps over the lazy dog and then runs away to "
        "have a rest with plenty of friends that come along for dinner every "
        "single evening because they enjoy good company and be happy about "
        "all of it while the moon rises over the quiet hills of the valley "
        "town tonight and every cat naps softly near the warm fire place"
    )
    src = str(tmp_path / "docs3.parquet")
    spark.createDataFrame(
        [
            (0, good),                                  # kept
            (1, "too short to pass"),                   # gopher drop
            (2, good + " lorem ipsum dolor"),           # c4 page drop
            (3, good.replace("the", "itâ€™s", 3)),      # mojibake drop
            (4, ""),                                    # empty text: gopher drop
        ],
        "doc_id: long, text: string",
    ).write.parquet(src)
    dest = str(tmp_path / "filtered.parquet")
    from streamds_spark.cli import main

    assert main(["filter-corpus", src, dest, "--report"]) == 0
    out = capsys.readouterr().out
    assert "input:5 kept:1 dropped:4" in out
    # every dropped row is explained by a gate counter (empty text -> gopher)
    assert "drop_c4:1" in out and "drop_mojibake:1" in out and "drop_gopher:" in out
    assert [r.doc_id for r in spark.read.parquet(dest).collect()] == [0]


def test_cli_tokenizer_roundtrip(spark, tmp_path, capsys):
    src = str(tmp_path / "docs4.parquet")
    spark.createDataFrame(
        [(i, "running runner runs the runway again " * 3) for i in range(6)],
        "doc_id: long, text: string",
    ).write.parquet(src)
    model = str(tmp_path / "tok.json")
    dest = str(tmp_path / "pieces.parquet")
    from streamds_spark.cli import main

    assert main(["train-tokenizer", src, model, "--iters", "2"]) == 0
    out = capsys.readouterr().out
    assert "algo:unigram pieces:" in out

    assert main(["tokenize", src, model, dest]) == 0
    out = capsys.readouterr().out
    assert "docs:6" in out
    rows = spark.read.parquet(dest).collect()
    # losslessness: pieces rejoin to the whitespace-stripped text
    src_rows = {r.doc_id: r.text for r in spark.read.parquet(src).collect()}
    for r in rows:
        assert "".join(r.pieces) == src_rows[r.doc_id].replace(" ", "")

    # BPE path writes an ordered merge list
    model2 = str(tmp_path / "tok_bpe.json")
    assert main(["train-tokenizer", src, model2, "--algo", "bpe", "--merges", "10"]) == 0
    import json

    with open(model2) as f:
        m = json.load(f)
    assert m["algo"] == "bpe" and len(m["merges"]) == 10


def test_cli_tokenize_applies_bpe_models(spark, tmp_path, capsys):
    """tokenize dispatches on the model's algo: a BPE model from
    train-tokenizer --algo bpe now applies (was unigram-only)."""
    src = str(tmp_path / "docs5.parquet")
    spark.createDataFrame(
        [(i, "low lower lowest newest new wide " * 2) for i in range(4)],
        "doc_id: long, text: string",
    ).write.parquet(src)
    model = str(tmp_path / "bpe.json")
    dest = str(tmp_path / "bpe_pieces.parquet")
    from streamds_spark.cli import main

    assert main(["train-tokenizer", src, model, "--algo", "bpe", "--merges", "6"]) == 0
    assert "algo:bpe merges:" in capsys.readouterr().out
    assert main(["tokenize", src, model, dest]) == 0
    assert "docs:4" in capsys.readouterr().out
    src_rows = {r.doc_id: r.text for r in spark.read.parquet(src).collect()}
    for r in spark.read.parquet(dest).collect():
        assert "".join(r.pieces).replace("</w>", "") == src_rows[r.doc_id].replace(" ", "")


@pytest.mark.slow
def test_cli_stream_corpus_command(spark, tmp_path, capsys):
    """stream-corpus drains a documents dir through the continuous pipeline
    and reports the corpus size; re-running on the same work dir is a no-op
    (checkpoint already consumed the input)."""
    src = str(tmp_path / "docs_stream")
    work = str(tmp_path / "work")
    text = "one two three four five six seven eight nine ten eleven twelve " * 4
    spark.createDataFrame(
        [(i, "src0", "en", len(text), text + f"tail{i}") for i in range(8)],
        "doc_id long, source string, lang string, n_chars long, text string",
    ).write.parquet(src)
    from streamds_spark.cli import main

    assert main(["stream-corpus", src, work]) == 0
    out = capsys.readouterr().out
    n = int(out.split("corpus_docs:")[1].strip())
    assert n > 0
    # idempotent re-run: nothing new to ingest
    assert main(["stream-corpus", src, work]) == 0
    out2 = capsys.readouterr().out
    assert int(out2.split("corpus_docs:")[1].strip()) == n
    # maintenance compaction over the same work dir: corpus count unchanged
    assert main(["compact-store", work]) == 0
    out3 = capsys.readouterr().out
    assert "compacted upto_batch:" in out3
    assert main(["stream-corpus", src, work]) == 0
    out4 = capsys.readouterr().out
    assert int(out4.split("corpus_docs:")[1].strip()) == n


@pytest.mark.slow
def test_cli_stream_corpus_metrics_flag(spark, tmp_path, capsys):
    """--metrics records per-batch progress JSONL and prints the throughput
    summary (ops flight recorder for the continuous pipeline)."""
    import json

    src = str(tmp_path / "docs_m")
    work = str(tmp_path / "work_m")
    jsonl = str(tmp_path / "progress.jsonl")
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu " * 4
    spark.createDataFrame(
        [(i, "src0", "en", len(text), text + f"tail{i}") for i in range(6)],
        "doc_id long, source string, lang string, n_chars long, text string",
    ).write.parquet(src)
    from streamds_spark.cli import main

    assert main(["stream-corpus", src, work, "--metrics", jsonl]) == 0
    out = capsys.readouterr().out
    assert "corpus_docs:" in out and "metrics:" in out
    rep = json.loads(out.split("metrics:")[1].strip())
    assert rep["n_batches"] >= 1
    assert rep["total_input_rows"] == 6
    assert rep["rows_per_sec"] > 0
    with open(jsonl) as f:
        lines = [json.loads(ln) for ln in f if ln.strip()]
    assert sum(e.get("numInputRows", 0) for e in lines) == 6


def test_cli_stream_corpus_rejects_work_inside_src(tmp_path):
    from streamds_spark.cli import main
    import pytest

    # exact same path
    with pytest.raises(SystemExit):
        main(["stream-corpus", str(tmp_path), str(tmp_path)])
    # work dir NESTED inside the tailed src dir — the stream would ingest
    # its own output files
    with pytest.raises(SystemExit):
        main(["stream-corpus", str(tmp_path), str(tmp_path / "work")])
    # sibling dir with a shared name prefix must NOT be rejected
    (tmp_path / "docs").mkdir()
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"doc_id": [1], "source": ["s"], "lang": ["en"],
                  "n_chars": [100], "text": ["x " * 60]}),
        str(tmp_path / "docs" / "d.parquet"),
    )
    assert main(["stream-corpus", str(tmp_path / "docs"), str(tmp_path / "docs-work")]) == 0


@pytest.mark.slow
def test_cli_train_score_lm(spark, tmp_path, capsys):
    src = str(tmp_path / "lm_docs.parquet")
    spark.createDataFrame(
        [
            (0, "the cat sat on the mat", "wiki"),
            (1, "the dog sat on the log", "wiki"),
            (2, "zz qq gibberish stream", "web"),
            (3, "the cat saw the dog", "web"),
        ],
        "doc_id: long, text: string, source: string",
    ).write.parquet(src)
    model = str(tmp_path / "kn_model")
    dest = str(tmp_path / "lm_scores.parquet")
    from streamds_spark.cli import main

    assert main(["train-lm", src, model, "--source", "wiki"]) == 0
    assert "bigram_types:" in capsys.readouterr().out
    assert main(["score-lm", src, model, dest]) == 0
    assert "scored:4" in capsys.readouterr().out
    rows = {r.doc_id: r.avg_nll for r in spark.read.parquet(dest).collect()}
    # in-domain text scores lower NLL than OOV gibberish (the filter signal)
    assert rows[0] < rows[2]
    # model dir is an input to score-lm: refuse dest clobbering it
    import pytest

    with pytest.raises(SystemExit):
        main(["score-lm", src, model, model])

    # --order 3: the generic model persists with meta.json and the scorer
    # auto-detects it; same filter signal, trigram-level scores
    model3 = str(tmp_path / "kn3_model")
    dest3 = str(tmp_path / "lm3_scores.parquet")
    assert main(["train-lm", src, model3, "--source", "wiki", "--order", "3"]) == 0
    out = capsys.readouterr().out
    assert "order:3 ngram_types:" in out
    assert main(["score-lm", src, model3, dest3]) == 0
    assert "scored:4" in capsys.readouterr().out
    rows3 = {r.doc_id: r.avg_nll for r in spark.read.parquet(dest3).collect()}
    assert rows3[0] < rows3[2]
    # CLI output == in-session generic scoring (persisted model round trip)
    from pyspark.sql import functions as F

    from streamds_spark.operators.ngram_lm import (
        doc_ngrams,
        kn_ngram_doc_nll,
        kn_ngram_model,
        kn_ngram_score,
    )

    docs = spark.read.parquet(src)
    m = kn_ngram_model(
        doc_ngrams(docs.filter(F.col("source") == "wiki"), 3).select(
            "w1", "w2", "w3"
        ),
        3,
    )
    want = {
        r.doc_id: r.avg_nll
        for r in kn_ngram_doc_nll(
            kn_ngram_score(doc_ngrams(docs, 3), m, 3)
        ).collect()
    }
    assert rows3 == pytest.approx(want)


def test_cli_chunk_corpus(spark, tmp_path, capsys):
    src = str(tmp_path / "chunk_docs.parquet")
    spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog " * 10) for i in range(4)],
        "doc_id: long, text: string",
    ).write.parquet(src)
    from streamds_spark.cli import main

    for algo in ("gear", "md5"):
        dest = str(tmp_path / f"chunks_{algo}.parquet")
        assert main(["chunk-corpus", src, dest, "--algo", algo]) == 0
        assert "docs:4 chunks:" in capsys.readouterr().out
        rows = spark.read.parquet(dest).collect()
        assert rows and {r.doc_id for r in rows} == {0, 1, 2, 3}
        # spans start at 1 and are contiguous per doc
        per_doc = {}
        for r in rows:
            per_doc.setdefault(r.doc_id, []).append((r.s, r.e))
        for spans in per_doc.values():
            spans.sort()
            assert spans[0][0] == 1
            for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
                assert s2 == e1 + 1


def test_cli_quantiles_verb(spark, capsys):
    """`streamds quantiles`: HDR sketch quantiles over a table column,
    matching the registry machinery's bounds; bad specs error cleanly."""
    import duckdb
    import math
    import pytest

    rc, out = _run(
        ["quantiles", "documents", "n_chars", "/root/testdata/sf0.001"]
    )
    assert rc == 0
    lines = {ln.split(":")[0]: ln for ln in out.splitlines() if ":rank=" in ln}
    assert set(lines) == {"p50", "p90", "p99"}
    exact = sorted(
        r[0] for r in duckdb.sql(
            "SELECT n_chars FROM '/root/testdata/sf0.001/documents.parquet'"
        ).fetchall()
    )
    n = len(exact)
    for tag, frac in (("p50", 0.5), ("p90", 0.9), ("p99", 0.99)):
        parts = dict(
            kv.split("=") for kv in lines[tag].split(":", 1)[1].split(" ")
        )
        assert int(parts["rank"].split("/")[0]) == max(1, math.ceil(frac * n))
        true_val = exact[max(1, math.ceil(frac * n)) - 1]
        assert int(parts["lo"]) <= true_val <= int(parts["hi"])
    with pytest.raises(SystemExit):
        _run(["quantiles", "nope", "x", "/root/testdata/sf0.001"])
    with pytest.raises(SystemExit):
        _run(["quantiles", "events", "value", "/root/testdata/sf0.001",
              "--q", "bad"])
    # --signed routes through the negative-mirror sketch (plumbing pin; the
    # mirror's negative-side exactness is oracle-proven by the registry
    # query) — same rank bracket, nothing dropped from n
    rc, out = _run(
        ["quantiles", "events", "value", "/root/testdata/sf0.001",
         "--scale", "100", "--signed", "--q", "p50=0.5"]
    )
    assert rc == 0
    line = next(ln for ln in out.splitlines() if ln.startswith("p50:"))
    parts = dict(kv.split("=") for kv in line.split(":", 1)[1].split(" "))
    scaled = sorted(
        r[0] for r in duckdb.sql(
            "SELECT CAST(floor(value * 100) AS BIGINT) "
            "FROM '/root/testdata/sf0.001/events.parquet'"
        ).fetchall()
    )
    true_val = scaled[max(1, math.ceil(0.5 * len(scaled))) - 1]
    assert int(parts["lo"]) <= true_val <= int(parts["hi"])
    assert parts["rank"].split("/")[1] == str(len(scaled))


def test_cli_quantiles_refuses_non_numeric_column(spark):
    """The CLI verb refuses a non-numeric or missing column, as the server
    verb does (both go through hdr.column_quantiles)."""
    import pytest

    for column in ("event_type", "no_such_column"):
        with pytest.raises(SystemExit):
            _run(["quantiles", "events", column, "/root/testdata/sf0.001"])


def test_cli_sample_verb(spark, capsys):
    """`streamds sample`: deterministic bottom-k draw — identical rows on
    repeat runs, stratified mode gives k per stratum, bad args error."""
    import pytest

    rc, out = _run(["sample", "documents", "doc_id", "/root/testdata/sf0.001",
                    "-k", "5"])
    assert rc == 0
    lines = [ln for ln in out.splitlines() if "doc_id=" in ln]
    assert len(lines) == 5
    rc2, out2 = _run(["sample", "documents", "doc_id",
                      "/root/testdata/sf0.001", "-k", "5"])
    assert [ln for ln in out2.splitlines() if "doc_id=" in ln] == lines

    rc3, out3 = _run(["sample", "documents", "doc_id",
                      "/root/testdata/sf0.001", "-k", "3",
                      "--stratify", "source"])
    assert rc3 == 0
    per = {}
    for ln in out3.splitlines():
        if "source=" in ln:
            src = [kv for kv in ln.split() if kv.startswith("source=")][0]
            per[src] = per.get(src, 0) + 1
    assert per and all(v == 3 for v in per.values()), per

    with pytest.raises(SystemExit):
        _run(["sample", "nope", "doc_id", "/root/testdata/sf0.001"])
    with pytest.raises(SystemExit):
        _run(["sample", "documents", "nope_col", "/root/testdata/sf0.001"])
    with pytest.raises(SystemExit):
        _run(["sample", "documents", "doc_id", "/root/testdata/sf0.001",
              "-k", "0"])


def test_cli_sample_stratify_cardinality_guard(spark):
    """--stratify collects k rows PER stratum: a high-cardinality column
    (doc_id) must be refused up front, not collect k x cardinality rows."""
    import pytest

    with pytest.raises(SystemExit):
        _run(["sample", "documents", "doc_id", "/root/testdata/sf0.001",
              "-k", "100", "--stratify", "doc_id"])


def test_cli_check_verb_gate(spark, capsys):
    """`streamds check` is the CI gate: exit 0 + all-PASS lines on a clean
    suite; SystemExit(1) with the failing check named on violations."""
    import pytest

    rc, out = _run([
        "check", "orders", "/root/testdata/sf0.001",
        "--not-null", "o_orderkey", "--unique", "o_orderkey",
        "--in-set", "o_orderstatus=O,F,P",
        "--matches", "o_orderpriority=^[1-5]-",
        "--non-negative", "o_totalprice",
        "--fk", "o_custkey=customer.c_custkey",
    ])
    assert rc in (0, None)
    lines = [l for l in out.splitlines() if l]
    assert len(lines) == 6 and all(l.startswith("PASS") for l in lines)

    with pytest.raises(SystemExit) as e:
        _run(["check", "orders", "/root/testdata/sf0.001",
              "--in-set", "o_orderstatus=O,F"])
    assert e.value.code == 1


def test_cli_check_in_set_escaping(spark, capsys):
    """--in-set splits on UNESCAPED commas only: '\\,' is a literal comma in
    a member (previously unexpressible), and an empty member from a trailing
    or doubled comma is rejected up front instead of silently comparing
    against the empty string."""
    import pytest

    # escaped comma: the set is {"O,F", "P"} — most rows violate → exit 1,
    # proving the member was parsed as ONE value containing a comma
    with pytest.raises(SystemExit) as e:
        _run(["check", "orders", "/root/testdata/sf0.001",
              "--in-set", "o_orderstatus=O\\,F,P"])
    assert e.value.code == 1
    # trailing comma = empty member: refused loudly (argparse exit 2)
    with pytest.raises(SystemExit) as e2:
        _run(["check", "orders", "/root/testdata/sf0.001",
              "--in-set", "o_orderstatus=O,F,"])
    assert e2.value.code == 2
    # escaped backslash is a literal backslash member; clean full set passes
    rc, out = _run([
        "check", "orders", "/root/testdata/sf0.001",
        "--in-set", "o_orderstatus=O,F,P,\\\\",
    ])
    assert rc in (0, None) and "PASS" in out


def test_cli_check_verb_validation(spark):
    import pytest

    with pytest.raises(SystemExit):  # no constraint flags
        _run(["check", "orders", "/root/testdata/sf0.001"])
    with pytest.raises(SystemExit):  # unknown column
        _run(["check", "orders", "/root/testdata/sf0.001", "--not-null", "nope"])
    with pytest.raises(SystemExit):  # malformed fk
        _run(["check", "orders", "/root/testdata/sf0.001", "--fk", "o_custkey=bogus"])


@pytest.mark.slow
def test_cli_view_verbs_lifecycle(spark, tmp_path):
    """The incremental materialized view's operational surface: stream ->
    report (== batch groupBy) -> delete (negative delta) -> compact ->
    rebuild, all through the CLI with spec flags."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    work = str(tmp_path / "work")
    os.makedirs(src)
    rows = [("a", 1), ("a", 3), ("b", 5), ("a", 10), ("c", 7)]
    df = spark.createDataFrame(rows, "k string, v bigint")
    df.coalesce(1).write.parquet(str(tmp_path / "stage"))
    tbl = pq.read_table(str(tmp_path / "stage"))
    pq.write_table(tbl.slice(0, 3), os.path.join(src, "000.parquet"))
    pq.write_table(tbl.slice(3), os.path.join(src, "001.parquet"))

    spec_flags = ["--key", "k", "--agg", "s=sum:v", "--agg", "n=count"]
    rc, out = _run(["view-stream", src, work, *spec_flags])
    assert rc in (0, None) and "drained:true" in out

    rc, out = _run(["view-report", work, *spec_flags])
    assert rc in (0, None)
    assert "k=a n=3 s=14" in out.replace("s=14 n=3", "n=3 s=14") or (
        "k=a" in out and "s=14" in out
    )
    assert "rows:3" in out

    # takedown: remove ('a', 3) and all of b
    deleted = str(tmp_path / "deleted")
    spark.createDataFrame([("a", 3), ("b", 5)], "k string, v bigint").write.parquet(
        deleted
    )
    rc, out = _run(["view-delete", work, deleted, *spec_flags])
    assert rc in (0, None) and "delta:" in out
    rc, out = _run(["view-report", work, *spec_flags])
    assert "k=b" not in out and "rows:2" in out

    rc, out = _run(["view-compact", work, "--num-files", "1"])
    assert rc in (0, None) and "folded:" in out
    seg = [d for d in os.listdir(os.path.join(work, "view_store"))
           if d.startswith("segment=")]
    assert len(seg) == 1
    parts = [f for f in os.listdir(os.path.join(work, "view_store", seg[0]))
             if f.endswith(".parquet")]
    assert len(parts) == 1, "—num-files must reach the segment coalesce"
    rc, out = _run(["view-report", work, *spec_flags])
    assert "k=b" not in out and "rows:2" in out

    # min/max spec: delete refused through the CLI, rebuild is the path
    mm_flags = ["--key", "k", "--agg", "hi=max:v"]
    import pytest

    with pytest.raises(SystemExit):
        _run(["view-delete", work, deleted, *mm_flags])
    remaining = str(tmp_path / "remaining")
    spark.createDataFrame([("a", 1), ("c", 7)], "k string, v bigint").write.parquet(
        remaining
    )
    with pytest.raises(SystemExit):  # rebuild requires an asserted quiesce
        _run(["view-rebuild", work, remaining, *mm_flags])
    rc, out = _run(["view-rebuild", work, remaining, *mm_flags, "--quiesced"])
    assert rc in (0, None) and "segment_hi:" in out
    rc, out = _run(["view-report", work, *mm_flags])
    assert "hi=1" in out and "hi=7" in out and "rows:2" in out

    # spec validation surfaces as a loud argparse error
    with pytest.raises(SystemExit):
        _run(["view-report", work, "--key", "k", "--agg", "bad=nope:v"])
    with pytest.raises(SystemExit):  # kmv_k 0 must hit the spec guard, not default
        _run(["view-report", work, "--key", "k",
              "--agg", "dv=approx_distinct:v", "--kmv-k", "0"])


@pytest.mark.slow
def test_cli_view_register_and_takedown_cascade(spark, tmp_path):
    """view-register wires a view into the takedown verb's cascade: the
    subtractable view's report excludes the deleted docs afterwards, the
    min/max view's disposition prints an actionable rebuild message, and
    view-report WARNS while the rebuild flag is pending."""
    import os

    from tests.test_llm_pipeline_stream import _split_into_files
    from streamds_spark.io import appendlog
    from streamds_spark.streaming import viewstore as vws
    from streamds_spark.streaming.llm_pipeline import (
        CorpusStreamPaths,
        run_llm_corpus_stream,
    )

    src, work = str(tmp_path / "src"), str(tmp_path / "work")
    _split_into_files(spark, src)
    q = run_llm_corpus_stream(spark, src, work)
    q.awaitTermination(timeout=300)
    assert not q.isActive

    sub_flags = ["--key", "source", "--agg", "chars=sum:n_chars"]
    mm_flags = ["--key", "lang", "--agg", "hi=max:n_chars"]
    rc, out = _run(["view-register", work, "by_source", *sub_flags])
    assert rc in (0, None) and "by_source" in out
    rc, out = _run(["view-register", work, "max_by_lang", *mm_flags])
    assert rc in (0, None)
    import pytest

    with pytest.raises(SystemExit):  # names become directories
        _run(["view-register", work, "../escape", *sub_flags])

    corpus = appendlog.get(spark, CorpusStreamPaths(work).corpus)
    sub_spec = vws.ViewSpec(keys=("source",), aggs={"chars": ("sum", "n_chars")})
    mm_spec = vws.ViewSpec(keys=("lang",), aggs={"hi": ("max", "n_chars")})
    vdir_sub = os.path.join(work, "views", "by_source")
    vdir_mm = os.path.join(work, "views", "max_by_lang")
    vws.write_view_batch(corpus, 0, os.path.join(vdir_sub, "view_store"), sub_spec)
    vws.write_view_batch(corpus, 0, os.path.join(vdir_mm, "view_store"), mm_spec)

    doomed = sorted(r["doc_id"] for r in corpus.select("doc_id").collect())[:2]
    rc, out = _run(["takedown", work, ",".join(map(str, doomed)), "--quiesced"])
    assert rc in (0, None)
    assert "view by_source: delta:" in out
    assert "view max_by_lang: rebuild_required" in out
    assert "until `view-rebuild` runs" in out  # actionable, not silent

    # the cascaded view equals the batch aggregate over the remaining corpus
    def _rows(df):
        return sorted(tuple(r) for r in df.select(*sorted(df.columns)).collect())

    remaining = appendlog.get(spark, CorpusStreamPaths(work).corpus)
    want = vws.view_fold(vws.view_batch_state(remaining, sub_spec), sub_spec)
    assert _rows(vws.view_report(spark, vdir_sub, sub_spec)) == _rows(want)

    # pending rebuild flag surfaces on the report verb
    rc, out = _run(["view-report", vdir_mm, *mm_flags])
    assert rc in (0, None) and "WARNING: rebuild required" in out
    rc, out = _run(["view-report", vdir_sub, *sub_flags])
    assert rc in (0, None) and "WARNING" not in out

    rc, out = _run(["view-unregister", work, "max_by_lang"])
    assert rc in (0, None) and "removed" in out
    rc, out = _run(["view-unregister", work, "max_by_lang"])
    assert "not-registered" in out


@pytest.mark.slow
def test_cli_views_listing_and_manifest_mode(spark, tmp_path):
    """The manifest as single source of truth on the CLI (round 11):
    `views` lists each registered view with store status; `view-report
    --name` folds without re-typing spec flags (and refuses a flag mix);
    `view-rebuild --name --from-corpus --quiesced` is the one-command
    remedy for a rebuild-required flag — remaining source = the pipeline's
    own post-takedown corpus, flag cleared after."""
    import os

    from tests.test_llm_pipeline_stream import _split_into_files
    from streamds_spark.io import appendlog
    from streamds_spark.streaming import viewstore as vws
    from streamds_spark.streaming.llm_pipeline import (
        CorpusStreamPaths,
        run_llm_corpus_stream,
    )

    src, work = str(tmp_path / "src"), str(tmp_path / "work")
    _split_into_files(spark, src)
    sub_spec = vws.ViewSpec(keys=("source",), aggs={"chars": ("sum", "n_chars")})
    mm_spec = vws.ViewSpec(keys=("lang",), aggs={"hi": ("max", "n_chars")})
    vws.register_view(work, "by_source", sub_spec)
    vws.register_view(work, "max_by_lang", mm_spec)
    q = run_llm_corpus_stream(spark, src, work)  # pipeline maintains both
    q.awaitTermination(timeout=300)
    assert not q.isActive

    rc, out = _run(["views", work])
    assert rc in (0, None) and "views:2" in out
    assert "view by_source keys:source aggs:chars=sum:n_chars" in out
    assert "batches:4" in out and "rebuild_required:0" in out

    # manifest-mode report == flag-mode report
    rc, out_name = _run(["view-report", work, "--name", "by_source"])
    assert rc in (0, None)
    rc, out_flags = _run([
        "view-report", os.path.join(work, "views", "by_source"),
        "--key", "source", "--agg", "chars=sum:n_chars",
    ])
    assert sorted(out_name.splitlines()) == sorted(out_flags.splitlines())
    import pytest as _pytest

    with _pytest.raises(SystemExit):  # flags + --name refused
        _run(["view-report", work, "--name", "by_source", "--key", "source",
              "--agg", "chars=sum:n_chars"])
    with _pytest.raises(SystemExit):  # unknown name
        _run(["view-report", work, "--name", "nope"])
    with _pytest.raises(SystemExit):  # neither flags nor name
        _run(["view-report", work])

    # takedown flags the min/max view; --from-corpus rebuild remedies it
    corpus = appendlog.get(spark, CorpusStreamPaths(work).corpus)
    doomed = sorted(r["doc_id"] for r in corpus.select("doc_id").collect())[:2]
    rc, out = _run(["takedown", work, ",".join(map(str, doomed)), "--quiesced"])
    assert rc in (0, None) and "view max_by_lang: rebuild_required" in out
    rc, out = _run(["views", work])
    assert "rebuild_required:1" in out
    with _pytest.raises(SystemExit):  # --from-corpus needs --name
        _run(["view-rebuild", work, "--key", "lang", "--agg", "hi=max:n_chars",
              "--from-corpus", "--quiesced"])
    with _pytest.raises(SystemExit):  # kmv-k is part of the spec too
        _run(["view-report", work, "--name", "by_source", "--kmv-k", "512"])
    with _pytest.raises(SystemExit):  # two conflicting remaining sources
        _run(["view-rebuild", work, "/tmp/other.parquet", "--name",
              "max_by_lang", "--from-corpus", "--quiesced"])
    rc, out = _run([
        "view-rebuild", work, "--name", "max_by_lang", "--from-corpus",
        "--quiesced",
    ])
    assert rc in (0, None) and "segment_hi:" in out
    rc, out = _run(["views", work])
    assert "rebuild_required:1" not in out and "views:2" in out
    # the rebuilt view equals the batch aggregate over the remaining corpus
    remaining = appendlog.get(spark, CorpusStreamPaths(work).corpus)
    want = vws.view_fold(vws.view_batch_state(remaining, mm_spec), mm_spec)
    got = vws.view_report(
        spark, os.path.join(work, "views", "max_by_lang"), mm_spec
    )
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        tuple(r) for r in want.collect()
    )
