"""Linear text classifiers trained and applied INSIDE the engine
(SURVEY §2.10 [EXT] X4) — the quality/language classifier stage of a
pretraining pipeline (CCNet's fastText lang-id + LM filter, GPT-3's
WebText quality classifier) re-expressed as pure DataFrame algebra.

Multinomial Naive Bayes is the one classic text classifier whose
TRAINING is nothing but counting, so both train and apply stay
hash-aggregates + broadcast joins — no gradient loop, no collect of
the corpus, no UDF. At 100 TB: training is one shuffle keyed on
(label, token) whose output is vocab×labels rows (MBs — broadcastable
model); scoring is one shuffle keyed on (doc, token) for the per-doc
term counts, then broadcast joins against the model. Reference parity:
the reference has no classifier stage (its curation is schema-level,
`staging_to_curated.py`); this extends the [EXT] mandate's
text-analysis surface with the published filtering recipe.

Determinism contract (oracle-replicable in ANSI SQL): whitespace
tokenization, Laplace smoothing with an in-plan vocabulary count,
``ln`` log-likelihoods, argmax on the ROUNDED score with the label as
tiebreak — so IEEE summation-order noise (different between engines
and partitionings) can never flip a prediction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def _tokens(df: DataFrame, text_col: str, *keep: str) -> DataFrame:
    """(keep..., token) — whitespace split, empty tokens dropped (the
    same tokenization every text operator in this engine uses)."""
    return df.select(
        *keep, F.explode(F.split(F.col(text_col), " ")).alias("token")
    ).filter(F.col("token") != "")


def nb_train(
    docs: DataFrame,
    text_col: str,
    label_col: str,
    smoothing: float = 1.0,
    token_counts: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """Train a multinomial Naive Bayes model; returns small DataFrames
    (the model), never driver-side data.

    ``token_logprob``: (label, token, logprob) with Laplace smoothing
    ``ln((c + a) / (total_label + a*V))``; ``label_stats``: (label,
    logprior, default_logprob) where default covers tokens unseen for
    that label (the same smoothing formula at c=0). V (vocabulary
    size) is computed in-plan as a one-row aggregate and broadcast —
    no driver action. Model size is O(vocab × labels): counting
    shuffles carry (label, token, count), everything downstream is a
    broadcast.

    ``token_counts`` (round 14 — the retrieval ``doc_stats=``
    precedent): a precomputed ``(label_col, token, c)`` frame replaces
    the internal tokenize, so a pipeline that also scores documents
    can derive train counts and score terms from ONE shared corpus
    tokenize instead of two independent passes. Values are identical —
    the internal aggregate is exactly this frame.
    """
    a = float(smoothing)
    if token_counts is not None:
        counts = token_counts.select(label_col, "token", "c")
    else:
        toks = _tokens(docs, text_col, label_col)
        counts = toks.groupBy(label_col, "token").agg(F.count(F.lit(1)).alias("c"))
    vocab = counts.select(F.countDistinct("token").alias("__v"))
    label_totals = counts.groupBy(label_col).agg(F.sum("c").alias("total"))
    doc_counts = docs.groupBy(label_col).agg(F.count(F.lit(1)).alias("n_docs"))
    total_docs = F.sum("n_docs").over(W.partitionBy())
    # LEFT join + coalesce: a label whose training docs are all empty
    # still exists (prior-only scoring) — an inner join would drop it
    # AND shrink every other label's prior normalizer.
    label_stats = (
        doc_counts.crossJoin(F.broadcast(vocab))
        .join(label_totals, label_col, "left")
        .withColumn("total", F.coalesce(F.col("total"), F.lit(0)))
        .withColumn("__v", F.greatest(F.col("__v"), F.lit(1)))
        .select(
            label_col,
            F.log(F.col("n_docs") / total_docs).alias("logprior"),
            F.log(F.lit(a) / (F.col("total") + F.lit(a) * F.col("__v"))).alias(
                "default_logprob"
            ),
            F.col("total").alias("__total"),
            F.col("__v"),
        )
    )
    token_logprob = counts.join(
        F.broadcast(label_stats.select(label_col, "__total", "__v")), label_col
    ).select(
        label_col,
        "token",
        F.log((F.col("c") + F.lit(a)) / (F.col("__total") + F.lit(a) * F.col("__v"))).alias(
            "logprob"
        ),
    )
    return {
        "token_logprob": token_logprob,
        "label_stats": label_stats.select(label_col, "logprior", "default_logprob"),
    }


def nb_score_all(
    docs: DataFrame,
    model: dict[str, DataFrame],
    id_col: str,
    text_col: str,
    label_col: str = "label",
    round_dp: int = 6,
    term: DataFrame | None = None,
) -> DataFrame:
    """Score every document under EVERY label; returns the full
    (id, label, score, n_tokens) log-likelihood matrix — the surface
    evaluation needs (one-vs-rest AUC ranks on a single class's score)
    and `nb_score` argmaxes over.

    score(d, l) = logprior(l) + Σ_t count(t in d) · logprob(t | l),
    unseen-for-label tokens falling back to the label's smoothed
    default. Shuffle budget: ONE (doc, token) count aggregate over the
    corpus; the model and label list join in as broadcasts. Zero-token
    documents score on the prior alone (left join keeps them). Scores
    are rounded to ``round_dp`` so downstream comparisons are
    engine-replicable.
    """
    tlp = model["token_logprob"]
    stats = model["label_stats"]
    model_label = [c for c in stats.columns if c not in ("logprior", "default_logprob")][0]
    # ``term=`` (round 14): a precomputed (id, token, cnt) frame — the
    # nb_train ``token_counts=`` twin — lets a train+score pipeline
    # tokenize the corpus once. Identical values: the internal
    # aggregate is exactly this frame.
    if term is None:
        term = _tokens(docs, text_col, id_col).groupBy(id_col, "token").agg(
            F.count(F.lit(1)).alias("cnt")
        )
    else:
        term = term.select(id_col, "token", "cnt")
    # every (doc-term, label) pair — labels are a tiny broadcast
    contrib = (
        term.crossJoin(F.broadcast(stats.select(F.col(model_label).alias(label_col), "default_logprob")))
        .join(
            F.broadcast(tlp.select(F.col(model_label).alias(label_col), "token", "logprob")),
            [label_col, "token"],
            "left",
        )
        .groupBy(id_col, label_col)
        .agg(
            F.sum(F.col("cnt") * F.coalesce(F.col("logprob"), F.col("default_logprob"))).alias("__ll"),
            F.sum("cnt").alias("n_tokens"),
        )
    )
    scored = (
        docs.select(id_col)
        .crossJoin(F.broadcast(stats.select(F.col(model_label).alias(label_col), "logprior")))
        .join(contrib, [id_col, label_col], "left")
        .select(
            id_col,
            label_col,
            F.round(F.col("logprior") + F.coalesce(F.col("__ll"), F.lit(0.0)), round_dp).alias(
                "score"
            ),
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("bigint").alias("n_tokens"),
        )
    )
    return scored


def nb_argmax(scored: DataFrame, id_col: str, label_col: str = "label") -> DataFrame:
    """Per-doc argmax over an `nb_score_all` frame — (id, pred_label,
    score, n_tokens). Ties break on the smaller label string, both
    engines alike; the argmax is a (doc)-keyed min-struct hash
    aggregate, never a window sort. Split out (round 14) so a pipeline
    that needs BOTH the full score matrix and the argmax can pin the
    matrix once and derive both, instead of running two independent
    tokenize→score subtrees."""
    best = scored.groupBy(id_col).agg(
        F.min(F.struct((-F.col("score")).alias("ns"), F.col(label_col).alias("l"))).alias("b"),
        F.max("n_tokens").alias("n_tokens"),
    )
    return best.select(
        id_col,
        F.col("b.l").alias("pred_label"),
        (-F.col("b.ns")).alias("score"),
        "n_tokens",
    )


def nb_score(
    docs: DataFrame,
    model: dict[str, DataFrame],
    id_col: str,
    text_col: str,
    label_col: str = "label",
    round_dp: int = 6,
    term: DataFrame | None = None,
) -> DataFrame:
    """Score every document and return the per-doc argmax
    (id, pred_label, score, n_tokens) — `nb_score_all` plus the
    argmax reduction (`nb_argmax`).
    """
    scored = nb_score_all(docs, model, id_col, text_col, label_col, round_dp, term=term)
    return nb_argmax(scored, id_col, label_col)


def binary_auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """ROC-AUC of a numeric score against a binary label, via the
    tie-corrected Mann-Whitney U statistic — the quality gauge run on
    a held-out slice before a classifier filter (the CCNet/GPT-3
    recipe) is trusted to shape a corpus.

        AUC = Σ_s pos(s) · (neg_below(s) + neg(s)/2) / (P · N)

    computed over the score DISTRIBUTION, not the rows: one hash
    aggregate compacts examples to (rounded score → pos/neg counts),
    then an exact TWO-LEVEL prefix sum over that frame (ADVICE r8 —
    continuous scores like NB log-likelihoods stay essentially all
    distinct even rounded, so a single unpartitioned window would
    order ~|examples| rows in one task). Level 1 range-partitions the
    distribution by score and computes within-partition cumulative
    negatives; level 2 cumulates the per-partition totals — a frame
    with one row PER PARTITION, the only unpartitioned window — and
    broadcasts the offsets back. No task ever sorts more than
    |distinct scores| / P rows, at any corpus size. All counts are
    integers and the tie term is an exact binary half, so the only
    float op is the final division (rounded to ``round_dp``,
    engine-replicable); the result is independent of the sampled
    range boundaries, since every score lands in exactly one ordered
    range.

    Returns one row ``(auc, n_pos, n_neg)``; ``auc`` is NULL when
    either class is absent (AUC is undefined there).
    """
    g = (
        df.select(
            F.round(F.col(score_col), round_dp).alias("__s"),
            F.col(label_col).cast("int").alias("__y"),
        )
        .groupBy("__s")
        .agg(
            F.sum("__y").cast("bigint").alias("p"),
            F.sum(F.lit(1) - F.col("__y")).cast("bigint").alias("ng"),
        )
    )
    try:
        n_ranges = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    except (TypeError, ValueError):
        n_ranges = 32
    # Pinned: `ranged` feeds TWO branches (`within` and `offsets`)
    # that are later joined on __pid. Without the pin, correctness
    # would silently rest on exchange reuse deduplicating the two
    # range exchanges — if the exchange were evaluated twice, the
    # sampled range boundaries (and hence __pid assignments) could
    # differ between branches and the AUC would be wrong (ADVICE r9).
    # The pin is ranks._pin_ranged: a lazy localCheckpoint (one
    # evaluation, pinned on the first action). Its blocks outlive
    # this call until the caller runs operators._util.sweep_pinned_rdds.
    from cbts_datalake_synnex_spark.operators.ranks import _pin_ranged

    ranged = _pin_ranged(
        g.repartitionByRange(n_ranges, F.col("__s"))
        .withColumn("__pid", F.spark_partition_id())
    )
    w_in = (
        W.partitionBy("__pid").orderBy("__s").rowsBetween(W.unboundedPreceding, -1)
    )
    within = ranged.withColumn(
        "__below_in", F.coalesce(F.sum("ng").over(w_in), F.lit(0).cast("bigint"))
    )
    # per-partition totals: ≤ n_ranges rows; the exclusive prefix sum
    # over them is a triangular self-join (≤ n_ranges² tiny rows, the
    # ranks.py discipline) — zero WindowExec-without-partition nodes
    # anywhere in the plan
    totals = ranged.groupBy("__pid").agg(
        F.sum("ng").cast("bigint").alias("__part_ng")
    )
    before = totals.select(
        F.col("__pid").alias("__bpid"), F.col("__part_ng").alias("__bng")
    )
    offsets = (
        totals.join(before, F.col("__bpid") < F.col("__pid"), "left")
        .groupBy("__pid")
        .agg(F.coalesce(F.sum("__bng"), F.lit(0)).cast("bigint").alias("__off"))
    )
    c = within.join(F.broadcast(offsets), "__pid").select(
        "p",
        "ng",
        (F.col("__below_in") + F.col("__off")).alias("below"),
    )
    t = c.agg(
        F.sum(F.col("p") * (F.col("below") + F.col("ng") / F.lit(2.0))).alias("__u"),
        F.sum("p").cast("bigint").alias("n_pos"),
        F.sum("ng").cast("bigint").alias("n_neg"),
    )
    return t.select(
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.round(F.col("__u") / (F.col("n_pos") * F.col("n_neg")), round_dp),
        ).alias("auc"),
        "n_pos",
        "n_neg",
    )


# ----------------------------------------------------------------------
# Logistic regression by full-batch gradient descent (round 11) — the
# GRADIENT half of the classifier tier NB's counting form cannot
# cover: numeric feature vectors (quality scores, length stats,
# embedding projections) rather than token counts. Full-batch GD with
# a fixed unrolled step budget is the deterministic, SQL-unrollable
# form (the pagerank/LPA fixpoint discipline applied to optimization):
# each step is ONE corpus scan + one d+1-component aggregate; the
# weight vector (a one-row frame) broadcasts back into the next step's
# plan. Nothing is collected; d+1 doubles of state.
def logreg_train(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    steps: int = 3,
    lr: float = 1.0,
    round_dp: int = 6,
) -> DataFrame:
    """Train w for P(y=1|x) = sigmoid(w·[x, 1]) by ``steps`` unrolled
    full-batch GD steps from w_0 = 0:

        w_{t+1} = round(w_t − lr/N · Σ_i (sigmoid(w_t·x_i) − y_i)·x_i, dp)

    The per-step ROUNDING is the cross-engine contract (the nb_score /
    ks_test discipline): both engines accumulate ≤1-ulp exp noise over
    the corpus sum, and rounding each weight component to the declared
    grid before it enters the next step stops drift from compounding —
    a SQL oracle restates every step bit-for-bit on the grid.

    Scale shape: one scan + one (d+1)-column aggregate per step (map-
    side combined; the shuffle carries d+1 doubles per partition), the
    w frame is one row crossJoin-broadcast into the next step — the
    whole ``steps``-deep recurrence is ONE lazy plan, no driver round
    trips. Full-batch, not SGD, by design: determinism and engine
    parity outrank convergence speed at a fixed small step budget;
    callers wanting more steps pass ``steps`` (lineage is linear).

    Returns one row: (w_<feature>..., w_bias, train_acc, n) with
    accuracy computed at the final weights (prediction = rounded
    sigmoid > 0.5, so boundary noise cannot flip it either).
    """
    feats = [*feature_cols, "__one"]
    x = df.select(
        *[F.col(c).cast("double") for c in feature_cols],
        F.lit(1.0).alias("__one"),
        F.col(label_col).cast("double").alias("__y"),
    )
    n_feat = len(feats)
    # materialize w_0 = 0 as literal columns BEFORE the step loop
    # (ADVICE r11): the final aggregate reads __w{i}, which previously
    # only existed once the loop body's select ran, so steps=0 raised
    # instead of returning the zero weight vector.
    x = x.select(
        *[F.lit(0.0).alias(f"__w{i}") for i in range(n_feat)],
        *feats[:-1],
        "__one",
        "__y",
    )
    w = [F.col(f"__w{i}") for i in range(n_feat)]

    def margin(wc):
        z = F.lit(0.0)
        for c, wi in zip(feats, wc):
            z = z + wi * F.col(c)
        return z

    sig = lambda z: F.lit(1.0) / (F.lit(1.0) + F.exp(-z))  # noqa: E731
    for _ in range(int(steps)):
        err = sig(margin(w)) - F.col("__y")
        g = x.agg(
            *[F.avg(err * F.col(c)).alias(f"g{i}") for i, c in enumerate(feats)],
        )
        # one-row gradient frame broadcast back into the weight update
        w = [
            F.round(wi - F.lit(float(lr)) * F.col(f"g{i}"), round_dp)
            for i, wi in enumerate(w)
        ]
        x = x.crossJoin(F.broadcast(g)).select(
            *[w[i].alias(f"__w{i}") for i in range(n_feat)],
            *feats[:-1],
            "__one",
            "__y",
        )
        w = [F.col(f"__w{i}") for i in range(n_feat)]
    pred = F.round(sig(margin(w)), round_dp) > 0.5
    out = x.agg(
        *[F.round(F.max(F.col(f"__w{i}")), round_dp).alias(
            f"w_{feats[i]}" if feats[i] != "__one" else "w_bias"
        ) for i in range(n_feat)],
        F.round(
            F.avg(F.when(pred == (F.col("__y") > 0.5), 1.0).otherwise(0.0)),
            round_dp,
        ).alias("train_acc"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    return out


def hashing_features(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_features: int = 4,
    salt: str = "hf",
    scale: float = 1.0,
) -> DataFrame:
    """X4 — the feature-HASHING trick (Weinberger et al. 2009,
    'Feature Hashing for Large Scale Multitask Learning' — public):
    token counts folded into a FIXED n_features-dimensional vector by
    hashing, the vocab-free featurizer linear models use at corpus
    scale — no vocabulary table, no fit pass, no vocabulary growth
    between batches (the property that matters when yesterday's model
    must score today's data).

    Scale shape: one explode + ONE hash aggregate keyed on the doc id
    whose values are the n_features conditional counts (map-side
    combined; the shuffle carries n_features numbers per doc). Bucket
    assignment is the md5 idiom, so an oracle re-derives every cell.
    Returns (id, f0..f{n-1}) as doubles divided by ``scale`` (set it
    near the expected count magnitude so downstream GD margins stay in
    sigmoid's linear range).
    """
    tok = _tokens(df.select(F.col(id_col), F.col(text_col)), text_col, id_col)
    h = F.md5(F.concat_ws(":", F.lit(salt), F.col("token")))
    bucket = F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % int(n_features)
    return (
        tok.select(id_col, bucket.alias("__b"))
        .groupBy(id_col)
        .agg(
            *[
                (
                    F.sum(F.when(F.col("__b") == i, 1).otherwise(0))
                    / F.lit(float(scale))
                ).alias(f"f{i}")
                for i in range(int(n_features))
            ]
        )
    )
