"""Model-based document-quality classification (CCNet / fastText-style,
public practice: Wenzek et al. 2020 train a classifier to separate
"wikipedia-like" from crawl noise; Llama/GPT data notes describe the
same pattern).  No pretrained text models exist in this sandbox, so the
classifier is Spark MLlib logistic regression over the engine's OWN
engineered quality features — the honest equivalent: the feature
extraction (the expensive, corpus-wide part) is exactly the production
path, and the model slot swaps for fastText/embedding features on a
real cluster.

Scale shape: feature extraction is the existing zero/one-shuffle
column-expression operators joined on the id (slim rows); training runs
on a labeled SAMPLE (labels are the scarce resource, never the corpus);
scoring is model.transform — a projection, embarrassingly parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_COLS = [
    "n_words",
    "quality_x10000",
    "rep_x10000",
    "symbol_ratio_x10000",
    "alpha_frac_x10000",
    "word_len_x100",
    "stopword_hits",
]


def quality_features(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """(id, <FEATURE_COLS>) — the engineered per-document quality
    signals, composed from the existing scoring operators (one slim
    join on the id; every feature is a scan-side projection)."""
    from gemini_ocr_batch_spark.operators.textstats import (
        quality_x10000_sql,
    )
    from gemini_ocr_batch_spark.operators.webtext import (
        gopher_quality_flags,
        repetition_x10000_sql,
        with_token_grams,
    )

    g = gopher_quality_flags(docs, id_col=id_col, text_col=text_col).select(
        id_col, "n_words", "symbol_ratio_x10000", "alpha_frac_x10000",
        "word_len_x100", "stopword_hits",
    )
    rep, _ = repetition_x10000_sql("__grams")
    qr = with_token_grams(docs, text_col).selectExpr(
        id_col,
        f"{quality_x10000_sql(text_col, '__toks')} AS quality_x10000",
        f"{rep} AS rep_x10000",
    )
    return qr.join(g, id_col).select(id_col, *FEATURE_COLS)


def _assemble(features: DataFrame):
    from pyspark.ml.feature import VectorAssembler

    return VectorAssembler(
        inputCols=FEATURE_COLS, outputCol="features"
    ).transform(features.na.fill(0))


def train_quality_classifier(
    labeled_docs: DataFrame,
    label_col: str = "label",
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 7,
):
    """Fit LR on a labeled sample; returns (model, metrics).

    ``labeled_docs`` carries (id, text, label∈{0,1}); metrics report
    train-set AUC — hold out a split upstream for honest evaluation
    (``sampling.split_assign`` is the content-stable splitter).
    """
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.evaluation import BinaryClassificationEvaluator

    feats = quality_features(labeled_docs, id_col, text_col).join(
        labeled_docs.select(id_col, F.col(label_col).cast("double")),
        id_col,
    )
    assembled = _assemble(feats)
    lr = LogisticRegression(
        featuresCol="features", labelCol=label_col, maxIter=50,
        standardization=True,
    )
    model = lr.fit(assembled)
    auc = BinaryClassificationEvaluator(
        labelCol=label_col, metricName="areaUnderROC"
    ).evaluate(model.transform(assembled))
    return model, {"train_auc": float(auc), "n_train": assembled.count()}


def score_quality(
    docs: DataFrame,
    model,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, prob_good, pred) for every document — the corpus-wide pass.
    ``prob_good`` is P(label=1)."""
    from pyspark.ml.functions import vector_to_array

    feats = quality_features(docs, id_col, text_col)
    scored = model.transform(_assemble(feats))
    return scored.select(
        F.col(id_col),
        vector_to_array(F.col("probability")).getItem(1).alias(
            "prob_good"
        ),
        F.col("prediction").cast("int").alias("pred"),
    ).orderBy(id_col)
