"""Logistic-regression trainer (llm/classifier.py)."""

from pyspark.sql import functions as F

from kaspi_etl_spark.llm import classifier as C


def test_sigmoid_lut_sanity():
    assert len(C.SIGMOID_LUT) == C.LR_LUTN
    assert C.SIGMOID_LUT[C.LR_LUTN // 2] == 1 << (C.LR_P - 1)  # sigmoid(0)
    assert C.SIGMOID_LUT == sorted(C.SIGMOID_LUT)  # monotone
    assert C.SIGMOID_LUT[0] < 1000 and C.SIGMOID_LUT[-1] > (1 << C.LR_P) - 1000


def _length_corpus(spark, n=300, seed_words=("alpha", "beta", "gamma", "delta")):
    rows = []
    for i in range(n):
        k = 5 + (i * 37) % 90  # token counts 5..94, boundary at 50
        text = " ".join(seed_words[j % len(seed_words)] for j in range(k))
        rows.append((i, text, 1 if k > 50 else 0))
    return spark.createDataFrame(rows, "doc_id long, text string, y_true long")


def test_train_learns_and_is_deterministic(spark):
    docs = _length_corpus(spark)
    label = F.col("y_true") == 1
    w1 = C.train(docs, label)
    w2 = C.train(docs, label)
    assert w1 == w2  # exact integer trajectory
    out = C.predict(docs, w1, label)
    acc = out.agg(F.avg("correct")).collect()[0][0]
    assert acc > 0.9
    assert out.columns == ["doc_id", "z_scaled", "p_scaled", "pred", "y", "correct"]


def test_predict_without_labels_and_hostile_rows(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta alpha", 1),
            (1, "alpha beta alpha", 0),  # duplicate id, conflicting label
            (2, None, 0),  # null text: bias-only features
            (3, "", 1),
            (None, "gamma delta gamma delta", 1),  # null id: counts in n only
        ],
        "doc_id long, text string, y_true long",
    )
    w = C.train(docs, F.col("y_true") == 1, iters=2)
    # the trajectory is exact integer arithmetic: pinned values, with the
    # null-id group counted in n and absent from every gradient
    assert {j: x for j, x in enumerate(w) if x} == {28: 144, 38: 287, 64: 1425}
    out = C.predict(docs, w)
    assert out.columns == ["doc_id", "z_scaled", "p_scaled", "pred"]
    rows = {r["doc_id"]: r for r in out.collect()}
    assert set(rows) == {1, 2, 3, None}  # dup ids collapse; null text still scored
    # null-text doc's margin is exactly the scaled bias weight
    assert rows[2]["z_scaled"] == C.LR_BIAS_X * w[C.LR_D]
    # labels collapse by MAX on duplicate ids
    lab = {r["doc_id"]: r["y"]
           for r in C.doc_labels(docs, F.col("y_true") == 1).collect()}
    assert lab[1] == 1


def test_gradient_moves_weights_toward_separation(spark):
    docs = _length_corpus(spark, n=100)
    w = C.train(docs, F.col("y_true") == 1, iters=4)
    # word weights positive (counts predict length), bias negative
    word_ws = [x for x in w[: C.LR_D] if x != 0]
    assert word_ws and all(x > 0 for x in word_ws)
    assert w[C.LR_D] < 0


def test_weights_roundtrip_bit_exact(spark, tmp_path):
    docs = _length_corpus(spark, n=60)
    w = C.train(docs, F.col("y_true") == 1, iters=2)
    C.save_weights(spark, w, str(tmp_path / "m"))
    w2 = C.load_weights(spark, str(tmp_path / "m"))
    assert w2 == w
    a = sorted(map(tuple, C.predict(docs, w).collect()))
    b = sorted(map(tuple, C.predict(docs, w2).collect()))
    assert a == b


def test_logreg_model_follows_a_table_rewritten_in_place(spark, sf_dir, tmp_path):
    """The trained model is cached per corpus directory; rewriting
    documents.parquet in place must retrain, not score with the old
    weights."""
    import shutil
    import sys
    from pathlib import Path

    import pyarrow.parquet as pq

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    import check_oracle
    from kaspi_etl_spark import registry

    for t in check_oracle.TABLES:
        if t != "documents":
            (tmp_path / f"{t}.parquet").symlink_to(Path(sf_dir) / f"{t}.parquet")
    docs_path = tmp_path / "documents.parquet"
    shutil.copyfile(Path(sf_dir) / "documents.parquet", docs_path)
    full = pq.read_table(docs_path)
    before = registry.QUERIES["docs_logreg_weights"](spark, str(tmp_path)).collect()

    pq.write_table(full.slice(0, full.num_rows // 3), docs_path)  # in place
    con = check_oracle.duck_con(str(tmp_path))
    for name in ("docs_logreg_weights", "docs_logreg_predict"):
        sdf = registry.QUERIES[name](spark, str(tmp_path))
        result = check_oracle.compare(name, sdf, con)
        assert result["status"] == "OK", result
    after = registry.QUERIES["docs_logreg_weights"](spark, str(tmp_path)).collect()
    assert sorted(map(tuple, after)) != sorted(map(tuple, before))
