"""Curation ops (curation.py) + the scoring front-end surface.

- dsir_importance_weights / length_bucketed_batches: oracle parity at
  sf0.001 (the driver gate re-checks at sf0.01) plus structural
  invariants.
- bpe_train_merges: exact value check against a pure-Python reference
  BPE trainer over the same corpus (the rows-only entry's real test).
- webapp helpers + segmentation manual-row scoring: the reference's
  streamlit front-end command surface.
"""

from __future__ import annotations

import collections

import pytest

from tests.conftest import SF_SMALL, assert_oracle_match


def test_dsir_importance_weights_oracle(spark, duck):
    from retail_sales_project_bigdata_spark.operators.curation import (
        DSIR_IMPORTANCE_WEIGHTS_SQL,
        DSIR_SELECT_N,
        dsir_importance_weights,
    )

    df = dsir_importance_weights(spark, SF_SMALL)
    assert_oracle_match(df, duck, DSIR_IMPORTANCE_WEIGHTS_SQL)
    rows = df.collect()
    n = len(rows)
    # sel_rank is a permutation of 1..n; selected == top-N prefix of it
    assert sorted(r["sel_rank"] for r in rows) == list(range(1, n + 1))
    sel = {r["sel_rank"] for r in rows if r["selected"] == 1}
    assert sel == set(range(1, min(DSIR_SELECT_N, n) + 1))
    # weights are non-increasing along sel_rank (desc order), all finite > 0
    by_rank = sorted(rows, key=lambda r: r["sel_rank"])
    ws = [r["weight"] for r in by_rank]
    assert all(a >= b for a, b in zip(ws, ws[1:]))
    assert all(w > 0 for w in ws)
    # English docs should score above average toward the 'en' target:
    # the mean weight of en docs exceeds the mean weight of the rest.
    en = [r["weight"] for r in rows if r["lang"] == "en"]
    rest = [r["weight"] for r in rows if r["lang"] != "en"]
    assert en and rest
    assert sum(en) / len(en) > sum(rest) / len(rest)


def test_length_bucketed_batches_oracle(spark, duck):
    from retail_sales_project_bigdata_spark.operators.curation import (
        BATCH_DOCS,
        LENGTH_BUCKETED_BATCHES_SQL,
        length_bucketed_batches,
    )

    df = length_bucketed_batches(spark, SF_SMALL)
    assert_oracle_match(df, duck, LENGTH_BUCKETED_BATCHES_SQL)
    rows = df.collect()
    assert {r["bucket"] for r in rows} <= {1, 2, 3, 4}
    # within a bucket, every batch except the last is exactly full
    per_bucket = collections.defaultdict(list)
    for r in rows:
        per_bucket[r["bucket"]].append(r)
    for bucket, batches in per_bucket.items():
        batches.sort(key=lambda r: r["batch_id"])
        assert [r["batch_id"] for r in batches] == list(
            range(1, len(batches) + 1)
        )
        for r in batches[:-1]:
            assert r["n_docs"] == BATCH_DOCS
        assert 1 <= batches[-1]["n_docs"] <= BATCH_DOCS
        for r in batches:
            assert r["min_tokens"] <= r["max_tokens"]
            assert (
                r["min_tokens"] * r["n_docs"]
                <= r["total_tokens"]
                <= r["max_tokens"] * r["n_docs"]
            )


def _reference_bpe(word_counts, num_merges, min_pair_count):
    """Pure-Python BPE trainer: greedy top-pair merge, ties lexicographic,
    merges applied left-to-right non-overlapping."""
    vocab = {
        tuple(word): cnt for word, cnt in word_counts.items() if len(word) >= 2
    }
    merges = []
    for rank in range(1, num_merges + 1):
        pair_counts = collections.Counter()
        for syms, cnt in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pair_counts[(a, b)] += cnt
        if not pair_counts:
            break
        (a, b), cnt = min(
            pair_counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if cnt < min_pair_count:
            break
        merged = a + b
        merges.append((rank, a, b, merged, cnt))
        new_vocab = {}
        for syms, wc in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + wc
        vocab = new_vocab
    return merges


def test_bpe_train_merges_matches_reference(spark):
    from pyspark.sql import functions as F

    from retail_sales_project_bigdata_spark.operators.curation import (
        BPE_MIN_PAIR_COUNT,
        BPE_NUM_MERGES,
        bpe_train_merges,
    )
    from retail_sales_project_bigdata_spark.sources import read_table

    got = [tuple(r) for r in bpe_train_merges(spark, SF_SMALL).collect()]

    words = (
        read_table(spark, SF_SMALL, "documents")
        .select(F.explode(F.split(F.lower("text"), "[ ]+")).alias("w"))
        .groupBy("w")
        .count()
        .collect()
    )
    expected = _reference_bpe(
        {r["w"]: r["count"] for r in words}, BPE_NUM_MERGES, BPE_MIN_PAIR_COUNT
    )
    assert got == expected
    assert len(got) >= 1  # the corpus supports at least one merge
    # learned merges can chain (a merged symbol may appear in later pairs)
    for _, a, b, merged, cnt in got:
        assert merged == a + b and cnt >= BPE_MIN_PAIR_COUNT


def _encode_word(word, merges):
    """Apply the merge table to one word exactly as the engine's chained
    fold does: each merge once, in rank order, greedy left-to-right."""
    syms = list(word)
    for _, a, b, merged, _ in merges:
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(merged)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def test_bpe_encode_stats_matches_reference(spark):
    from pyspark.sql import functions as F

    from retail_sales_project_bigdata_spark.operators.curation import (
        BPE_MIN_PAIR_COUNT,
        BPE_NUM_MERGES,
        bpe_encode_stats,
    )
    from retail_sales_project_bigdata_spark.sources import read_table

    got = {
        r["source"]: (
            r["n_docs"],
            r["total_words"],
            r["total_tokens"],
            r["total_chars"],
            r["fertility"],
            r["chars_per_token"],
        )
        for r in bpe_encode_stats(spark, SF_SMALL).collect()
    }

    rows = (
        read_table(spark, SF_SMALL, "documents")
        .select("source", F.split(F.lower("text"), "[ ]+").alias("words"))
        .collect()
    )
    word_counts = collections.Counter(
        w for r in rows for w in r["words"]
    )
    merges = _reference_bpe(word_counts, BPE_NUM_MERGES, BPE_MIN_PAIR_COUNT)
    tok_len = {w: len(_encode_word(w, merges)) for w in word_counts}

    expected = {}
    per_source = collections.defaultdict(lambda: [0, 0, 0, 0])
    for r in rows:
        acc = per_source[r["source"]]
        acc[0] += 1
        for w in r["words"]:
            acc[1] += 1
            acc[2] += tok_len[w]
            acc[3] += len(w)
    for src, (nd, words, toks, chars) in per_source.items():
        expected[src] = (
            nd,
            words,
            toks,
            chars,
            toks / words,
            chars / toks,
        )
    assert got == expected
    # BPE merging can only shorten: fertility strictly below 1 token/char
    for _, (_, words, toks, chars, fert, cpt) in got.items():
        assert toks <= chars and cpt >= 1.0 and fert >= 1.0


def test_bpe_capped_trainer_out_of_sample_encode(spark, monkeypatch, tmp_path):
    """With the trainer-corpus cap engaged (BPE_TRAIN_MAX_DOCS
    below the doc count), the merge table must equal the pure-Python
    trainer run on the SAME doc_id-modulus sample, and encode_stats must
    encode the FULL corpus — out-of-sample words via the merge chain,
    never the old single-token default.  Uses a crafted corpus because
    the driver testdata's vocabulary is too small to leave any word out
    of even a tiny sample."""
    from retail_sales_project_bigdata_spark.operators import curation
    from retail_sales_project_bigdata_spark.operators.curation import (
        BPE_MIN_PAIR_COUNT,
        BPE_NUM_MERGES,
        bpe_encode_stats,
        bpe_train_merges,
    )

    # 10 docs, cap 5 → step 2 → the trainer sees even doc_ids only.
    # Odd docs carry words ("inter", "estim") built from the merges the
    # even docs teach — out-of-sample and multi-token under the chain —
    # plus "zq", untouched by any merge.
    docs = []
    for i in range(10):
        text = (
            "interest interest estimate rate rate rates"
            if i % 2 == 0
            else "inter estim zq interest"
        )
        docs.append((i, text, "en", f"src{i % 2}", len(text)))
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    sf_dir = str(tmp_path)

    monkeypatch.setattr(curation, "BPE_TRAIN_MAX_DOCS", 5)
    got_merges = [tuple(r) for r in bpe_train_merges(spark, sf_dir).collect()]
    got_stats = {
        r["source"]: (r["total_words"], r["total_tokens"])
        for r in bpe_encode_stats(spark, sf_dir).collect()
    }

    sample_counts = collections.Counter(
        w for i, text, *_ in docs if i % 2 == 0 for w in text.split(" ")
    )
    merges = _reference_bpe(
        sample_counts, BPE_NUM_MERGES, BPE_MIN_PAIR_COUNT
    )
    assert got_merges == merges and merges, "sampled trainer mismatch"

    expected = collections.defaultdict(lambda: [0, 0])
    oos_multi = False
    for _i, text, _l, src, _n in docs:
        for w in text.split(" "):
            acc = expected[src]
            acc[0] += 1
            n_tok = len(_encode_word(w, merges))
            acc[1] += n_tok
            if w not in sample_counts and n_tok > 1:
                oos_multi = True
    assert oos_multi, "fixture lacks out-of-sample multi-token words"
    assert got_stats == {s: tuple(v) for s, v in expected.items()}


def test_webapp_command_builders():
    from retail_sales_project_bigdata_spark.webapp import (
        MANUAL_FEATURES,
        build_predict_command,
    )

    cmd = build_predict_command("household_key", key=42, sf_dir="/tmp/sf")
    assert cmd[-3:] == ["segmentation", "--predict", "42"]
    assert "--sf-dir" in cmd and "/tmp/sf" in cmd

    feats = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]
    cmd = build_predict_command("manual", features=feats)
    assert cmd[-7:] == ["--manual"] + [str(f) for f in feats]
    assert len(MANUAL_FEATURES) == 6

    with pytest.raises(ValueError):
        build_predict_command("household_key")
    with pytest.raises(ValueError):
        build_predict_command("manual", features=[1.0])
    with pytest.raises(ValueError):
        build_predict_command("nonsense")


def test_manual_row_scoring(spark):
    from retail_sales_project_bigdata_spark.operators.segmentation import (
        score_manual_row,
    )

    out = score_manual_row(
        spark, SF_SMALL, [1000.0, 50.0, 10.0, 25.0, 5.0, 100.0]
    )
    rows = out.collect()
    assert len(rows) == 1
    assert out.columns == ["cluster"]
    assert rows[0]["cluster"] >= 0

    with pytest.raises(ValueError):
        score_manual_row(spark, SF_SMALL, [1.0, 2.0])
