"""Training-data pipeline operators past the dedup/ANN primitives:
duplicate-cluster assembly (connected components), deterministic dataset
splits, and benchmark decontamination.

These are the ops a 100 TB pretraining pipeline runs AFTER pair generation:

- **dedup_clusters**: near-dup PAIRS (from the shingle-Jaccard generator,
  hot-shingle guard applied) assembled into duplicate CLUSTERS via
  connected components — the keep-one-per-cluster step needs the component,
  not the pairs. Implemented as min-label propagation over the symmetric
  edge list: each superstep is one equi-join + one min-aggregate, lineage
  truncated with ``localCheckpoint`` per superstep (same discipline as
  ``ops/graph.py`` BFS). Converges in O(diameter) supersteps; near-dup
  components are tiny chains/cliques, so diameter is small in practice. At
  10^9+ edges the same loop holds (each superstep is shuffle-bounded by the
  edge list); the documented upgrade is alternating large-star/small-star
  which contracts star graphs in O(log n) supersteps.
- **sample_split**: train/valid/test assignment that is a pure function of
  the doc key — ``md5(doc_id)`` bucketed mod 100 — so the split is stable
  across runs, machines, and engines (no ``rand()``: resuming or
  re-partitioning can never move a doc across splits). One narrow
  projection + one hash-aggregate.
- **decontaminate**: flag corpus docs sharing ≥K distinct 5-gram shingles
  with any benchmark/probe document (the eval-leakage check run before
  training). The probe set is tiny by construction, so its shingle table is
  ``broadcast()`` — the corpus-side pass is embarrassingly parallel with no
  shuffle of corpus shingles at all.

All hashing is md5-over-utf8 (identical in Spark and DuckDB) so every op is
SQL-cross-checkable, like ops/dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..search.searcher import ranked_top
from .dedup import SHINGLE_MAX_DF, _docs, jaccard_pairs, shingles
from .registry import register
from .streams import SESSION_GAP_MIN, _t
from .textmetrics import TOKEN_RE, TOKEN_RE_SQL

# ---------------------------------------------------------------------------
# dedup_clusters: connected components over near-dup pairs
# ---------------------------------------------------------------------------

CLUSTER_JACCARD_T = 0.8
_CC_MAX_SUPERSTEPS = 25


def connected_components(edges: DataFrame) -> DataFrame:
    """Min-label propagation over an undirected edge list (src, dst) →
    (doc_id, cluster_id = component-minimum doc_id).

    Each superstep: neighbor labels via one equi-join, then a min-aggregate
    per node; stop when no label changed. ``localCheckpoint`` truncates the
    iterative lineage (without it the plan doubles per superstep)."""
    # Materialize the edge list ONCE: `edges` usually chains back to an
    # expensive generator (the shingle→Jaccard join), and every superstep
    # below joins against it — without this checkpoint each superstep
    # re-runs the whole upstream pair computation (measured 3-4× the total
    # wall time of the funnel at sf0.1; at 100 TB it would re-shuffle the
    # gram table once per graph diameter).
    sym = edges.union(edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )).localCheckpoint()
    labels = (
        sym.select(F.col("src").alias("doc_id")).distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint()
    )
    for _ in range(_CC_MAX_SUPERSTEPS):
        nbr = (
            sym.join(labels, sym.src == labels.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        new = (
            labels.join(nbr, "doc_id", "left")
            .select(
                "doc_id",
                F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias("label"),
                (F.coalesce("nbr_label", "label") < F.col("label")).alias("chg"),
            )
        ).localCheckpoint()
        changed = new.filter("chg").limit(1).count()
        labels = new.select("doc_id", "label")
        if changed == 0:
            break
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: shingle-Jaccard ≥ 0.8 pairs (hot-shingle guard
    applied, same generator as ``dedup_shingle_jaccard``) → connected
    components → (cluster_id, doc_id, cluster size, keep flag). ``keep``
    marks the canonical doc (component-minimum id) a dedup pass retains."""
    sh = shingles(_docs(spark, sf_dir), n=3, max_shingle_df=SHINGLE_MAX_DF)
    pairs = jaccard_pairs(sh, CLUSTER_JACCARD_T).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    cc = connected_components(pairs)
    sz = cc.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        cc.join(sz, "cluster_id")
        .select(
            "cluster_id", "doc_id", "n_docs",
            (F.col("doc_id") == F.col("cluster_id")).alias("keep"),
        )
        .orderBy("cluster_id", "doc_id")
    )


# Oracle: identical pair generator (the dedup_shingle_jaccard CTEs), then a
# recursive CTE computing reachability over the symmetric edges; the
# component id is the minimum reachable doc_id.
DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE tl AS (
    SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE_SQL}') AS toks FROM documents
),
t AS (
    SELECT doc_id, unnest(toks) AS term, generate_subscripts(toks, 1) AS pos FROM tl
),
sh0 AS (
    SELECT DISTINCT a.doc_id, a.term || ' ' || b.term || ' ' || c.term AS shingle
    FROM t a
    JOIN t b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
    JOIN t c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
),
hot AS (
    SELECT shingle FROM sh0 GROUP BY 1 HAVING count(*) > {SHINGLE_MAX_DF}
),
sh AS (SELECT * FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
sz AS (SELECT doc_id, count(*)::BIGINT AS n FROM sh GROUP BY 1),
cnd AS (
    SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*)::BIGINT AS inter
    FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
    GROUP BY 1, 2
),
pairs AS (
    SELECT doc_a, doc_b FROM cnd
    JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
    WHERE inter::DOUBLE / (sa.n + sb.n - inter) >= {CLUSTER_JACCARD_T}
),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION ALL SELECT doc_b, doc_a FROM pairs
),
nodes AS (SELECT DISTINCT src AS doc FROM edges),
reach AS (
    SELECT doc, doc AS r FROM nodes
    UNION
    SELECT e.dst AS doc, reach.r FROM reach JOIN edges e ON e.src = reach.doc
),
cc AS (SELECT doc AS doc_id, min(r) AS cluster_id FROM reach GROUP BY doc),
szc AS (SELECT cluster_id, count(*)::BIGINT AS n_docs FROM cc GROUP BY 1)
SELECT cc.cluster_id, cc.doc_id, szc.n_docs,
       cc.doc_id = cc.cluster_id AS keep
FROM cc JOIN szc ON szc.cluster_id = cc.cluster_id
ORDER BY cc.cluster_id, cc.doc_id"""


# ---------------------------------------------------------------------------
# sample_split: deterministic hash-bucketed train/valid/test assignment
# ---------------------------------------------------------------------------

SPLIT_TRAIN_LT = 90   # buckets [0,90) → train
SPLIT_VALID_LT = 95   # buckets [90,95) → valid, [95,100) → test


def split_assignment(docs: DataFrame) -> DataFrame:
    """(doc_id, bucket, split): bucket = first 8 md5 hex chars of the
    decimal doc_id string, mod 100 — a pure function of the key, identical
    bytes in every engine."""
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint") % 100
    ).alias("bucket")
    return docs.select("doc_id", bucket).withColumn(
        "split",
        F.when(F.col("bucket") < SPLIT_TRAIN_LT, "train")
        .when(F.col("bucket") < SPLIT_VALID_LT, "valid")
        .otherwise("test"),
    )


def sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split summary: per-split doc count, doc_id min/max, and total chars —
    the audit row a pipeline logs after assignment. One narrow projection +
    one hash-aggregate (map-side combined); no shuffle of doc text."""
    d = _docs(spark, sf_dir).select("doc_id", "n_chars")
    return (
        split_assignment(d.select("doc_id")).join(d, "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("split")
    )


SAMPLE_SPLIT_SQL = f"""
WITH b AS (
    SELECT doc_id, n_chars,
           ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS bucket
    FROM documents
)
SELECT CASE WHEN bucket < {SPLIT_TRAIN_LT} THEN 'train'
            WHEN bucket < {SPLIT_VALID_LT} THEN 'valid'
            ELSE 'test' END AS split,
       count(*)::BIGINT AS n_docs,
       min(doc_id) AS min_doc, max(doc_id) AS max_doc,
       sum(n_chars)::BIGINT AS total_chars
FROM b GROUP BY 1 ORDER BY 1"""


# ---------------------------------------------------------------------------
# decontaminate: n-gram overlap against a benchmark/probe doc set
# ---------------------------------------------------------------------------

PROBE_MOD = 11        # probe set = docs with doc_id % 11 == 0 (stand-in for
                      # an external benchmark table; small by construction)
DECON_NGRAM = 4
DECON_MIN_SHARED = 2  # flag docs sharing >= this many distinct 4-grams


def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-decontamination sweep: corpus docs sharing ≥ K distinct 4-gram
    shingles with any probe doc, with the shared count and the fraction of
    the doc's shingles that are contaminated.

    Scale shape: the probe shingle table is tiny → ``broadcast()``; the
    corpus side streams through one pruned scan + broadcast-hash join (its
    shingles are never shuffled); per-(doc, probe) counts aggregate
    map-side."""
    sh = shingles(_docs(spark, sf_dir), n=DECON_NGRAM)
    probes = sh.filter(F.col("doc_id") % PROBE_MOD == 0).select(
        F.col("doc_id").alias("probe_doc"), "shingle"
    )
    corpus = sh.filter(F.col("doc_id") % PROBE_MOD != 0)
    nsz = corpus.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    return (
        corpus.join(F.broadcast(probes), "shingle")
        .groupBy("doc_id", "probe_doc")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= DECON_MIN_SHARED)
        .join(nsz, "doc_id")
        .withColumn(
            "frac", F.col("n_shared").cast("double") / F.col("n_shingles")
        )
        .select("doc_id", "probe_doc", "n_shared", "frac")
        .orderBy("doc_id", "probe_doc")
    )


DECONTAMINATE_SQL = f"""
WITH tl AS (
    SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE_SQL}') AS toks FROM documents
),
t AS (
    SELECT doc_id, unnest(toks) AS term, generate_subscripts(toks, 1) AS pos FROM tl
),
sh AS (
    SELECT DISTINCT a.doc_id,
           a.term || ' ' || b.term || ' ' || c.term || ' ' || d.term AS shingle
    FROM t a
    JOIN t b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
    JOIN t c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
    JOIN t d ON d.doc_id = a.doc_id AND d.pos = a.pos + 3
),
probes AS (SELECT doc_id AS probe_doc, shingle FROM sh WHERE doc_id % {PROBE_MOD} = 0),
corpus AS (SELECT * FROM sh WHERE doc_id % {PROBE_MOD} <> 0),
nsz AS (SELECT doc_id, count(*)::BIGINT AS n_shingles FROM corpus GROUP BY 1),
hits AS (
    SELECT c.doc_id, p.probe_doc, count(*)::BIGINT AS n_shared
    FROM corpus c JOIN probes p ON p.shingle = c.shingle
    GROUP BY 1, 2 HAVING count(*) >= {DECON_MIN_SHARED}
)
SELECT h.doc_id, h.probe_doc, h.n_shared,
       h.n_shared::DOUBLE / nsz.n_shingles AS frac
FROM hits h JOIN nsz ON nsz.doc_id = h.doc_id
ORDER BY h.doc_id, h.probe_doc"""


# --- text classification (Solr ClassifyStream / train) ----------------------

# LogisticRegressionQuery-style model: dyadic-rational weights over token
# term frequencies. Dyadic weights × integer tfs make every margin an exact
# double regardless of summation order, so the oracle matches bitwise
# without any float-discipline gymnastics.
CLASSIFY_WEIGHTS: dict[str, float] = {
    "spark": 0.5, "fast": 0.375, "merge": 0.125,
    "slow": -0.25, "dup": -0.5,
}
CLASSIFY_BIAS = -0.5


def classify_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``classify()`` streaming expression (``SJ/io/stream/ClassifyStream``
    scoring a stored logistic-regression model, the output of Solr's
    ``train()``/TextLogitStream): per-doc margin = bias + Σ w_t · tf_t over
    whitespace-lowercased tokens, label = margin > 0. The margin (not the
    sigmoid) is reported: the label is identical and the margin is exact in
    f64, keeping the oracle bit-for-bit (exp() differs across engines in
    the last ulp).

    Scale shape: explode → map-side-combinable (doc, term) count → one
    BROADCAST join against the tiny weight table → per-doc sum. No UDF."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w = spark.createDataFrame(
        [(t, float(v)) for t, v in sorted(CLASSIFY_WEIGHTS.items())],
        "term string, w double",
    )
    tf = (
        docs.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term"))
        .groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    )
    margins = (
        tf.join(F.broadcast(w), "term")
        .groupBy("doc_id")
        .agg(F.sum(F.col("w") * F.col("tf")).alias("dot"))
    )
    return (
        docs.select("doc_id").join(margins, "doc_id", "left")
        .select(
            "doc_id",
            (F.coalesce("dot", F.lit(0.0)) + F.lit(float(CLASSIFY_BIAS))).alias("margin"),
        )
        .withColumn("label", (F.col("margin") > 0).cast("int"))
        .orderBy("doc_id")
    )


_CLASSIFY_VALS = ", ".join(
    f"('{t}', {v!r})" for t, v in sorted(CLASSIFY_WEIGHTS.items())
)
CLASSIFY_LOGREG_SQL = f"""
WITH w(term, wgt) AS (VALUES {_CLASSIFY_VALS}),
tf AS (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
    FROM documents
),
tfc AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tf GROUP BY 1, 2),
m AS (
    SELECT doc_id, sum(w.wgt * tfc.tf) AS dot
    FROM tfc JOIN w USING (term) GROUP BY 1
)
SELECT d.doc_id,
       coalesce(m.dot, 0.0) + {CLASSIFY_BIAS!r} AS margin,
       (CASE WHEN coalesce(m.dot, 0.0) + {CLASSIFY_BIAS!r} > 0 THEN 1 ELSE 0 END)::INTEGER AS label
FROM documents d LEFT JOIN m USING (doc_id) ORDER BY d.doc_id"""


def train_logreg(
    docs: DataFrame,
    label_col: str,
    features: list[str],
    iters: int = 20,
    lr: float = 0.5,
) -> dict[str, float]:
    """``train()`` streaming expression (``SJ/io/stream/TextLogitStream``):
    batch gradient-descent logistic regression over token-presence features,
    every iteration ONE DataFrame aggregate (map-side-combinable sums of
    per-doc gradient terms) — the iterative-algorithms pattern from
    ops/ann.py k-means. Returns {feature: weight} plus '__bias__'.

    The feature matrix is a fixed, broadcastable feature list (Solr trains
    on the terms of a query's result set, likewise bounded); per-row x is a
    0/1 presence vector built with JVM expressions, the sigmoid runs as
    exp() column math, and only the F-dim gradient crosses to the driver
    each iteration."""
    import numpy as np

    x_cols = [
        F.array_contains(F.split(F.lower("text"), " "), t).cast("double").alias(f"x{i}")
        for i, t in enumerate(features)
    ]
    d = docs.select(F.col(label_col).cast("double").alias("y"), *x_cols)
    d = d.persist()
    try:
        n = d.count()
        wv = np.zeros(len(features) + 1)  # [bias, w...]
        for _ in range(iters):
            z = F.lit(float(wv[0]))
            for i in range(len(features)):
                z = z + F.lit(float(wv[i + 1])) * F.col(f"x{i}")
            p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
            err = (p - F.col("y")).alias("e")
            agg = d.select(
                F.sum(err).alias("g0"),
                *[
                    F.sum((p - F.col("y")) * F.col(f"x{i}")).alias(f"g{i + 1}")
                    for i in range(len(features))
                ],
            ).head()
            grad = np.array([agg[f"g{i}"] for i in range(len(features) + 1)]) / n
            wv -= lr * grad
    finally:
        d.unpersist()
    return {"__bias__": float(wv[0]), **{t: float(wv[i + 1]) for i, t in enumerate(features)}}


register("classify_logreg", classify_logreg, CLASSIFY_LOGREG_SQL)
register("dedup_clusters", dedup_clusters, DEDUP_CLUSTERS_SQL)
register("sample_split", sample_split, SAMPLE_SPLIT_SQL)
register("decontaminate", decontaminate, DECONTAMINATE_SQL)


# ---------------------------------------------------------------------------
# classify_naive_bayes: lucene/classification SimpleNaiveBayesClassifier
# ---------------------------------------------------------------------------

NB_TEST_MOD = 10     # doc_id % MOD == 0 held out and classified
NB_LABEL = "lang"    # class field (5 skewed classes — priors matter)


def classify_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes trained from corpus statistics — the
    ``lucene/classification/.../SimpleNaiveBayesClassifier.java`` analog:
    the reference trains from INDEX statistics (per-class doc counts, class
    term frequencies, vocabulary size) and scores
    ``log prior + Σ log smoothed-likelihood``; here the same sufficient
    statistics come from two hash-aggregations over the tokenized train
    split, and

        score(d, c) = ln(N_c / N) + Σ_t qtf_d(t) · ln((tf(t,c)+1)/(T_c+V))

    (add-one smoothing over the train vocabulary V). Float discipline: the
    per-(doc, class) sum is a DETERMINISTIC left fold over term-sorted f64
    contributions (both engines add in the same order), one final f32
    cast, and the argmax compares the f32 scores (class-name tiebreak) so
    an ulp of engine-libm ``ln`` difference cannot flip a label.

    Scale shape: token explode → ONE map-side-combinable (class, term)
    hash-agg for the model; classify = equi-join of test tokens on term
    against the model (fan-out bounded by the class count), per-(doc,
    class) fold, one window argmax. No UDF, no driver loop; the model
    table is O(V·C) rows — broadcast when small, plain shuffle join when
    not (Catalyst/AQE decides from stats)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        "doc_id", F.col(NB_LABEL).alias("cls"),
        F.explode(F.split(F.lower("text"), " ")).alias("term"),
    )
    train = toks.filter(F.col("doc_id") % NB_TEST_MOD != 0)

    n_train = docs.filter(F.col("doc_id") % NB_TEST_MOD != 0).count()
    vocab = train.select("term").distinct().count()
    classes = (
        train.groupBy("cls")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("t_c"),
        )
    )
    model = train.groupBy("cls", "term").agg(F.count(F.lit(1)).alias("tf"))

    test_tf = (
        toks.filter(F.col("doc_id") % NB_TEST_MOD == 0)
        .groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("qtf"))
    )
    grid = test_tf.crossJoin(F.broadcast(classes))
    contrib = (
        grid.join(F.broadcast(model), ["cls", "term"], "left")
        .withColumn(
            "c",
            F.col("qtf").cast("double")
            * F.log(
                (F.coalesce(F.col("tf"), F.lit(0)) + F.lit(1)).cast("double")
                / (F.col("t_c") + F.lit(vocab)).cast("double")
            ),
        )
    )
    scores = (
        contrib.groupBy("doc_id", "cls", "n_docs")
        .agg(F.array_sort(F.collect_list(F.struct("term", "c"))).alias("cs"))
        .withColumn(
            "score",
            (
                F.aggregate(
                    "cs", F.lit(0.0), lambda acc, x: acc + x["c"]
                )
                + F.log(F.col("n_docs").cast("double") / F.lit(float(n_train)))
            ).cast("float"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("cls"))
    return (
        scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("cls").alias("label"), "score")
        .orderBy("doc_id")
    )


CLASSIFY_NB_SQL = f"""
WITH toks AS (
    SELECT doc_id, {NB_LABEL} AS cls,
           unnest(string_split(lower(text), ' ')) AS term
    FROM documents
),
train AS (SELECT * FROM toks WHERE doc_id % {NB_TEST_MOD} != 0),
n_train AS (
    SELECT count(DISTINCT doc_id) AS n
    FROM documents WHERE doc_id % {NB_TEST_MOD} != 0
),
vocab AS (SELECT count(DISTINCT term) AS v FROM train),
classes AS (
    SELECT cls, count(DISTINCT doc_id) AS n_docs, count(*) AS t_c
    FROM train GROUP BY cls
),
model AS (SELECT cls, term, count(*) AS tf FROM train GROUP BY cls, term),
test_tf AS (
    SELECT doc_id, term, count(*) AS qtf
    FROM toks WHERE doc_id % {NB_TEST_MOD} = 0 GROUP BY doc_id, term
),
contrib AS (
    SELECT t.doc_id, c.cls, c.n_docs, t.term,
           t.qtf::DOUBLE * ln((coalesce(m.tf, 0) + 1)::DOUBLE
                              / (c.t_c + (SELECT v FROM vocab))::DOUBLE) AS con
    FROM test_tf t CROSS JOIN classes c
    LEFT JOIN model m ON m.cls = c.cls AND m.term = t.term
),
scores AS (
    SELECT doc_id, cls,
           CAST(list_reduce(list(con ORDER BY term), (a, b) -> a + b)
                + ln(n_docs::DOUBLE / (SELECT n FROM n_train)::DOUBLE)
                AS FLOAT) AS score
    FROM contrib GROUP BY doc_id, cls, n_docs
)
SELECT doc_id::BIGINT AS doc_id, cls AS label, score FROM (
    SELECT doc_id, cls, score,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, cls ASC) AS rn
    FROM scores
) WHERE rn = 1 ORDER BY doc_id"""

register("classify_naive_bayes", classify_naive_bayes, CLASSIFY_NB_SQL)


# ---------------------------------------------------------------------------
# chunk_documents: context-window chunking with stride (overlap)
# ---------------------------------------------------------------------------

CHUNK_WINDOW = 64    # tokens per chunk (the training context window)
CHUNK_STRIDE = 48    # start-to-start distance; overlap = WINDOW - STRIDE


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: split each document's token stream into
    overlapping windows (start positions 0, STRIDE, 2·STRIDE, … < n_tokens;
    chunk length = min(WINDOW, n − start)) — the sliding-window step every
    pretraining / embedding pipeline runs before batching. Trailing chunks
    shorter than the overlap are still emitted (the simple deterministic
    rule; filter downstream if undesired).

    Returns (doc_id, chunk_idx, tok_start, n_tokens, head_tok). Scale
    shape: ONE narrow projection — tokenization, the chunk-count arithmetic
    and the explode are all JVM expressions; no shuffle at all (the chunk
    table inherits the doc partitioning)."""
    d = _docs(spark, sf_dir).withColumn(
        "toks",
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_RE), 0),
    ).withColumn("n", F.size("toks")).filter(F.col("n") > 0)
    chunks = d.select(
        "doc_id", "toks", "n",
        F.explode(
            F.sequence(F.lit(0), F.floor((F.col("n") - 1) / CHUNK_STRIDE))
        ).alias("chunk_idx"),
    )
    s = (F.col("chunk_idx") * CHUNK_STRIDE).cast("long")
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        s.alias("tok_start"),
        F.least(F.lit(CHUNK_WINDOW).cast("long"), F.col("n") - s).alias("n_tokens"),
        F.element_at("toks", (s + 1).cast("int")).alias("head_tok"),
    ).orderBy("doc_id", "chunk_idx")


CHUNK_DOCUMENTS_SQL = f"""
WITH tl AS (
    SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE_SQL}') AS toks
    FROM documents
),
sized AS (SELECT doc_id, toks, len(toks)::BIGINT AS n FROM tl WHERE len(toks) > 0),
ch AS (
    SELECT doc_id, toks, n, unnest(generate_series(0, ((n - 1) // {CHUNK_STRIDE})::BIGINT)) AS chunk_idx
    FROM sized
)
SELECT doc_id, chunk_idx::BIGINT AS chunk_idx,
       (chunk_idx * {CHUNK_STRIDE})::BIGINT AS tok_start,
       least({CHUNK_WINDOW}, n - chunk_idx * {CHUNK_STRIDE})::BIGINT AS n_tokens,
       toks[(chunk_idx * {CHUNK_STRIDE} + 1)::BIGINT] AS head_tok
FROM ch ORDER BY doc_id, chunk_idx"""


# ---------------------------------------------------------------------------
# pack_sequences: concat-and-split packing map (GPT-style pretraining batches)
# ---------------------------------------------------------------------------

PACK_CAPACITY = 256   # tokens per packed training sequence
_PACK_GROUP = 100     # doc_id range per prefix-sum group (distributed cumsum)


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-split sequence packing: documents are laid end-to-end in
    stable doc_id order into one global token stream, which is cut every
    CAPACITY tokens — the packing strategy GPT-style pretraining uses
    (documents may straddle a cut; the map records where each doc lands).
    Returns per doc: (doc_id, tok_start, n_tokens, first_seq, last_seq).

    Scale shape: the global offset is a DISTRIBUTED prefix sum, not one
    unpartitioned window — stage 1 aggregates per doc_id-range group sums
    (one hash-agg over #groups rows), the tiny group table is prefix-summed
    and broadcast back, stage 2 runs the cumsum window PARTITIONED BY group
    (each task scans only its group). No global sort, no single-partition
    window bottleneck."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.size(F.regexp_extract_all(
            F.lower(F.col("text")), F.lit(TOKEN_RE), 0
        )).cast("long").alias("n_tok"),
        (F.col("doc_id") / _PACK_GROUP).cast("long").alias("grp"),
    )
    gsum = (
        d.groupBy("grp").agg(F.sum("n_tok").alias("gtot"))
    )
    # the group table is O(#groups) rows (doc range / _PACK_GROUP — ~10^4 at
    # 10^12 docs): the sequential prefix over it runs on the driver, exactly
    # like a classic two-pass distributed scan's middle step, and broadcasts
    # back. No unpartitioned window anywhere.
    rows = sorted(
        ((int(r.grp), int(r.gtot)) for r in gsum.collect()),
    )
    offs, acc = [], 0
    for g, tot in rows:
        offs.append((g, acc))
        acc += tot
    goff = spark.createDataFrame(offs, "grp long, goff long")
    wd = (
        Window.partitionBy("grp").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    placed = (
        d.join(F.broadcast(goff), "grp")
        .withColumn(
            "tok_start",
            F.col("goff") + F.coalesce(F.sum("n_tok").over(wd), F.lit(0)),
        )
    )
    return placed.select(
        "doc_id",
        "tok_start",
        F.col("n_tok").alias("n_tokens"),
        F.floor(F.col("tok_start") / PACK_CAPACITY).cast("long").alias("first_seq"),
        F.floor(
            (F.col("tok_start") + F.greatest(F.col("n_tok"), F.lit(1)) - 1)
            / PACK_CAPACITY
        ).cast("long").alias("last_seq"),
    ).orderBy("doc_id")


PACK_SEQUENCES_SQL = f"""
WITH sized AS (
    SELECT doc_id,
           len(regexp_extract_all(lower(text), '{TOKEN_RE_SQL}'))::BIGINT AS n_tok
    FROM documents
),
placed AS (
    SELECT doc_id, n_tok,
           COALESCE(sum(n_tok) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
               AS tok_start
    FROM sized
)
SELECT doc_id, tok_start, n_tok AS n_tokens,
       (tok_start // {PACK_CAPACITY})::BIGINT AS first_seq,
       ((tok_start + greatest(n_tok, 1) - 1) // {PACK_CAPACITY})::BIGINT AS last_seq
FROM placed ORDER BY doc_id"""


# ---------------------------------------------------------------------------
# shard_manifest / write_training_shards: the OUTPUT stage of the pipeline —
# deterministic token-budgeted shards + an auditable content manifest
# ---------------------------------------------------------------------------

SHARD_TOKENS = 1 << 14   # token budget per output shard


def _token_placement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tok, tok_start): every doc's offset in the global token
    stream under stable doc_id order — the same DISTRIBUTED two-pass prefix
    sum ``pack_sequences`` uses (per-group hash-agg → tiny driver prefix →
    group-partitioned cumsum windows; no unpartitioned window anywhere)."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.size(F.regexp_extract_all(
            F.lower(F.col("text")), F.lit(TOKEN_RE), 0
        )).cast("long").alias("n_tok"),
        (F.col("doc_id") / _PACK_GROUP).cast("long").alias("grp"),
    )
    rows = sorted(
        (int(r.grp), int(r.gtot))
        for r in d.groupBy("grp").agg(F.sum("n_tok").alias("gtot")).collect()
    )
    offs, acc = [], 0
    for g, tot in rows:
        offs.append((g, acc))
        acc += tot
    goff = spark.createDataFrame(offs, "grp long, goff long")
    wd = (
        Window.partitionBy("grp").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        d.join(F.broadcast(goff), "grp")
        .withColumn(
            "tok_start",
            F.col("goff") + F.coalesce(F.sum("n_tok").over(wd), F.lit(0)),
        )
        .select("doc_id", "n_tok", "tok_start")
    )


def shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard manifest: docs are assigned to token-budgeted output
    shards (shard = the SHARD_TOKENS window their global token offset
    starts in — docs never split; a shard overshoots its budget by at most
    one doc's tail, the usual greedy-fill contract) and each shard gets an
    auditable row: doc/token counts, its doc_id span, and a content
    fingerprint (md5 over the doc_id-ordered per-doc md5s) — the manifest a
    downstream trainer verifies receipt against. ``write_training_shards``
    is the sink that actually lays the files down with this exact layout.

    Scale shape: the placement prefix sum is the audited two-pass pattern;
    the manifest is ONE hash-agg over (shard) — the collect_list is bounded
    by docs-per-shard (budget/avg-doc-tokens), never O(corpus)."""
    placed = _token_placement(spark, sf_dir).join(
        _docs(spark, sf_dir).select("doc_id", F.md5("text").alias("h")),
        "doc_id",
    )
    sh = placed.withColumn(
        "shard", F.floor(F.col("tok_start") / SHARD_TOKENS).cast("long")
    )
    return (
        sh.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.min("doc_id").cast("long").alias("min_doc"),
            F.max("doc_id").cast("long").alias("max_doc"),
            F.md5(
                F.concat_ws(
                    "",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("doc_id", "h"))),
                        lambda s: s.h,
                    ),
                )
            ).alias("content_md5"),
        )
        .orderBy("shard")
    )


def write_training_shards(
    spark: SparkSession, sf_dir: str, out_dir: str,
    shard_tokens: int = SHARD_TOKENS,
) -> DataFrame:
    """The actual sink: write every doc's (doc_id, text, n_tok) into
    ``out_dir`` partitioned by its manifest shard (one directory per shard
    — the size-bounded training-file layout), and return the manifest.
    Deterministic end-to-end: same input ⇒ same shard membership, same
    manifest fingerprints, so a re-run after failure reproduces the layout
    (resume = diff the manifest, rewrite only missing shards)."""
    placed = _token_placement(spark, sf_dir)
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    sh = (
        placed.join(docs, "doc_id")
        .withColumn(
            "shard", F.floor(F.col("tok_start") / shard_tokens).cast("long")
        )
        .select("shard", "doc_id", "n_tok", "text")
    )
    (
        sh.repartitionByRange(max(1, spark.sparkContext.defaultParallelism), "shard", "doc_id")
        .sortWithinPartitions("shard", "doc_id")
        .write.mode("overwrite").partitionBy("shard")
        .parquet(out_dir)
    )
    return shard_manifest(spark, sf_dir)


SHARD_MANIFEST_SQL = f"""
WITH sized AS (
    SELECT doc_id,
           len(regexp_extract_all(lower(text), '{TOKEN_RE_SQL}'))::BIGINT AS n_tok,
           md5(text) AS h
    FROM documents
),
placed AS (
    SELECT doc_id, n_tok, h,
           COALESCE(sum(n_tok) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
               AS tok_start
    FROM sized
)
SELECT (tok_start // {SHARD_TOKENS})::BIGINT AS shard,
       count(*)::BIGINT AS n_docs,
       sum(n_tok)::BIGINT AS n_tokens,
       min(doc_id)::BIGINT AS min_doc,
       max(doc_id)::BIGINT AS max_doc,
       md5(string_agg(h, '' ORDER BY doc_id)) AS content_md5
FROM placed
GROUP BY 1 ORDER BY 1"""


# ---------------------------------------------------------------------------
# pack_loss_masks: instruction-tuning loss-mask spans over packed sequences
# ---------------------------------------------------------------------------

# Sources standing in for the completion role (the turns a fine-tune
# computes loss on); everything else is prompt/context and is masked out.
_MASK_SOURCES = ("src1", "src3", "src5", "src7", "src9")


def pack_loss_masks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-sequence loss-mask spans for the ``pack_sequences`` layout: the
    token ranges inside each packed CAPACITY-token sequence that belong to
    completion-role docs (``source IN _MASK_SOURCES``) — the mask an
    instruction-tuning trainer multiplies into the loss so prompt/context
    tokens don't train. A doc that straddles a sequence cut contributes one
    CLIPPED span to every sequence it overlaps (the packing contract:
    sequences are hard cuts, masks follow the doc).

    Returns (seq_id, doc_id, span_start, span_len) with span_start relative
    to the sequence, ordered by (seq_id, span_start, doc_id).

    Scale shape: the global offset is the audited two-pass distributed
    prefix sum (``_token_placement``); role lookup is a doc_id equi-join
    that collapses into the same shuffle; the explode fan-out is bounded by
    n_tok/CAPACITY + 1 per doc (total output ≤ corpus tokens / CAPACITY +
    masked docs), never quadratic. No unpartitioned window anywhere."""
    placed = _token_placement(spark, sf_dir)
    roles = _docs(spark, sf_dir).select("doc_id", "source")
    cap = F.lit(PACK_CAPACITY).cast("long")
    m = (
        placed.join(roles, "doc_id")
        .filter(F.col("source").isin(list(_MASK_SOURCES)) & (F.col("n_tok") > 0))
        .withColumn(
            "seq_id",
            F.explode(
                F.sequence(
                    F.floor(F.col("tok_start") / cap).cast("long"),
                    F.floor((F.col("tok_start") + F.col("n_tok") - 1) / cap)
                    .cast("long"),
                )
            ),
        )
    )
    start_g = F.greatest(F.col("tok_start"), F.col("seq_id") * cap)
    end_g = F.least(F.col("tok_start") + F.col("n_tok"), (F.col("seq_id") + 1) * cap)
    return m.select(
        F.col("seq_id").cast("long"),
        F.col("doc_id").cast("long"),
        (start_g - F.col("seq_id") * cap).cast("long").alias("span_start"),
        (end_g - start_g).cast("long").alias("span_len"),
    ).orderBy("seq_id", "span_start", "doc_id")


PACK_LOSS_MASKS_SQL = f"""
WITH sized AS (
    SELECT doc_id,
           len(regexp_extract_all(lower(text), '{TOKEN_RE_SQL}'))::BIGINT AS n_tok
    FROM documents
),
placed AS (
    SELECT doc_id, n_tok,
           COALESCE(sum(n_tok) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
               AS tok_start
    FROM sized
),
masked AS (
    SELECT p.doc_id, p.n_tok, p.tok_start
    FROM placed p JOIN documents d USING (doc_id)
    WHERE d.source IN {tuple(_MASK_SOURCES)} AND p.n_tok > 0
),
spans AS (
    SELECT doc_id, tok_start, n_tok,
           unnest(generate_series(
               tok_start // {PACK_CAPACITY},
               (tok_start + n_tok - 1) // {PACK_CAPACITY}))::BIGINT AS seq_id
    FROM masked
)
SELECT seq_id, doc_id::BIGINT AS doc_id,
       (greatest(tok_start, seq_id * {PACK_CAPACITY})
           - seq_id * {PACK_CAPACITY})::BIGINT AS span_start,
       (least(tok_start + n_tok, (seq_id + 1) * {PACK_CAPACITY})
           - greatest(tok_start, seq_id * {PACK_CAPACITY}))::BIGINT AS span_len
FROM spans ORDER BY seq_id, span_start, doc_id"""


# ---------------------------------------------------------------------------
# pii_scrub: regex redaction of emails / phone numbers (training-data hygiene)
# ---------------------------------------------------------------------------

_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE_RE = "\\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: replace email addresses and phone-shaped numbers with
    placeholder tokens before training — the scrub step of a compliant
    pretraining pipeline. The synthetic corpus carries no PII, so each doc
    gets a deterministic contact line appended FIRST (same expression on
    both engines); the op then counts and redacts. Returns (doc_id,
    n_emails, n_phones, scrub_md5) where scrub_md5 fingerprints the
    redacted text (certifies the replacement itself, not just the counts).

    Scale shape: pure JVM regexp expressions in one narrow projection —
    whole-stage codegen, no shuffle, no UDF."""
    d = _docs(spark, sf_dir).withColumn(
        "aug",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or +1 555-01"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
            F.lit(" x555-123-4567"),
        ),
    )
    scrub = F.regexp_replace(
        F.regexp_replace(F.col("aug"), _EMAIL_RE, "<EMAIL>"),
        _PHONE_RE, "<PHONE>",
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("aug"), F.lit(_EMAIL_RE), 0))
            .cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("aug"), F.lit(_PHONE_RE), 0))
            .cast("long").alias("n_phones"),
        F.md5(scrub).alias("scrub_md5"),
    ).orderBy("doc_id")


PII_SCRUB_SQL = f"""
WITH aug AS (
    SELECT doc_id,
           text || ' contact user' || doc_id::VARCHAR
                || '@example.com or +1 555-01'
                || lpad((doc_id % 100)::VARCHAR, 2, '0')
                || ' x555-123-4567' AS aug
    FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(aug, '{_EMAIL_RE}'))::BIGINT AS n_emails,
       len(regexp_extract_all(aug, '{_PHONE_RE}'))::BIGINT AS n_phones,
       md5(regexp_replace(
           regexp_replace(aug, '{_EMAIL_RE}', '<EMAIL>', 'g'),
           '{_PHONE_RE}', '<PHONE>', 'g')) AS scrub_md5
FROM aug ORDER BY doc_id"""


register("chunk_documents", chunk_documents, CHUNK_DOCUMENTS_SQL)
register("pack_sequences", pack_sequences, PACK_SEQUENCES_SQL)
register("shard_manifest", shard_manifest, SHARD_MANIFEST_SQL)
register("pack_loss_masks", pack_loss_masks, PACK_LOSS_MASKS_SQL)
register("pii_scrub", pii_scrub, PII_SCRUB_SQL)


# ---------------------------------------------------------------------------
# mix_balance: deterministic source-mixing downsample (pretraining data mix)
# ---------------------------------------------------------------------------

MIX_BUCKETS = 10000


def mix_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing rebalance — the pretraining "source mixing" step: every
    source is downsampled toward the SMALLEST source's size with a
    deterministic hash acceptance (bucket = first-8-md5-hex of the doc key
    mod MIX_BUCKETS; keep when bucket < floor(min_count·MIX_BUCKETS /
    source_count)). No rand(): the sample is a pure function of the key —
    stable across runs, engines and partitionings, so a resumed or
    re-partitioned job can never change the mix (the ``sample_split``
    discipline). Integer thresholds keep the acceptance test exact on both
    engines. Returns the audit row per source: (source, n_docs, threshold,
    kept).

    Scale shape: one tiny per-source count aggregate (rows = #sources)
    broadcast back onto a narrow filtered pass; the doc text never
    shuffles."""
    d = _docs(spark, sf_dir).select("doc_id", "source")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    min_cnt = counts.agg(F.min("n_docs").alias("min_cnt"))
    thr = (
        counts.crossJoin(F.broadcast(min_cnt))
        .withColumn(
            "threshold",
            F.floor(F.col("min_cnt") * MIX_BUCKETS / F.col("n_docs")).cast("long"),
        )
        .select("source", "n_docs", "threshold")
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint") % MIX_BUCKETS
    )
    kept = (
        d.join(F.broadcast(thr), "source")
        .filter(bucket < F.col("threshold"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("kept"))
    )
    return (
        thr.join(kept, "source", "left")
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            "threshold",
            F.coalesce(F.col("kept"), F.lit(0)).cast("long").alias("kept"),
        )
        .orderBy("source")
    )


MIX_BALANCE_SQL = f"""
WITH counts AS (
    SELECT source, count(*)::BIGINT AS n_docs FROM documents GROUP BY source
),
thr AS (
    SELECT source, n_docs,
           CAST(floor(((SELECT min(n_docs) FROM counts) * {MIX_BUCKETS}) / n_docs) AS BIGINT) AS threshold
    FROM counts
),
kept AS (
    SELECT d.source, count(*)::BIGINT AS kept
    FROM documents d JOIN thr t USING (source)
    WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT % {MIX_BUCKETS} < t.threshold
    GROUP BY d.source
)
SELECT t.source, t.n_docs, t.threshold, COALESCE(k.kept, 0)::BIGINT AS kept
FROM thr t LEFT JOIN kept k USING (source)
ORDER BY t.source"""


# ---------------------------------------------------------------------------
# ngram_hotspots: boilerplate n-gram detection
# ---------------------------------------------------------------------------

HOTSPOT_N = 5
HOTSPOT_K = 15


def ngram_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection: the corpus-wide hottest token 5-grams by
    document frequency AND total occurrence count — the repeated templates
    / headers / license blocks a C4-style cleaner strips before training
    (the n-gram analog of CCNet's paragraph-hash dedup).

    Scale shape: the n-gram build is an ARRAY ``transform`` over each
    row's token array (zero shuffle — no window over positions), then ONE
    (shingle) hash-aggregate counting total occurrences and distinct docs;
    top-k is a TakeOrdered. At 100 TB the aggregate output is
    vocabulary-of-5-grams-bounded and map-side combined."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_RE), 0).alias("toks"),
    )
    n = HOTSPOT_N
    grams = d.select(
        "doc_id",
        F.explode(
            F.expr(
                f"CASE WHEN size(toks) >= {n} THEN "
                f"transform(sequence(1, size(toks) - {n - 1}), "
                f"          i -> array_join(slice(toks, i, {n}), ' ')) "
                "ELSE array() END"
            )
        ).alias("shingle"),
    )
    return (
        grams.groupBy("shingle")
        .agg(
            F.countDistinct("doc_id").alias("df"),
            F.count(F.lit(1)).alias("total"),
        )
        .orderBy(F.desc("df"), F.desc("total"), F.asc("shingle"))
        .limit(HOTSPOT_K)
        .select("shingle", F.col("df").cast("long").alias("df"),
                F.col("total").cast("long").alias("total"))
    )


NGRAM_HOTSPOTS_SQL = f"""
WITH tl AS (
    SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE_SQL}') AS toks
    FROM documents
),
tok AS (
    SELECT doc_id, unnest(toks) AS term, generate_subscripts(toks, 1) AS pos
    FROM tl
),
grams AS (
    SELECT doc_id,
           term || ' ' || lead(term, 1) OVER w || ' ' || lead(term, 2) OVER w
                || ' ' || lead(term, 3) OVER w || ' ' || lead(term, 4) OVER w
               AS shingle,
           lead(term, {HOTSPOT_N - 1}) OVER w AS tail
    FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
)
SELECT shingle, count(DISTINCT doc_id)::BIGINT AS df, count(*)::BIGINT AS total
FROM grams WHERE tail IS NOT NULL
GROUP BY shingle
ORDER BY df DESC, total DESC, shingle ASC LIMIT {HOTSPOT_K}"""


# ---------------------------------------------------------------------------
# features_ig: information-gain term selection (FeaturesSelectionStream)
# ---------------------------------------------------------------------------

IG_POS_SOURCE = "src1"
IG_K = 15
IG_MIN_DF = 5


def features_ig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Information-gain feature selection (``SJ/io/stream/
    FeaturesSelectionStream`` — the term scorer behind Solr's ``features()``
    / ``train()`` text-classification streams): for a binary outcome
    (doc.source == positive class) each term scores
    IG = H(C) − P(t)·H(C|t) − P(¬t)·H(C|¬t) from its document-presence
    contingency counts. Rounded to 6 decimals on both engines (libm log2
    ULP guard — same discipline as the ANN cosine entries).

    Scale shape: distinct (doc, term) → ONE term-keyed hash-agg for the
    contingency counts (map-side combined), corpus totals broadcast; the
    entropy arithmetic is pure JVM column expressions."""
    docs = _docs(spark, sf_dir)
    pos = (F.col("source") == IG_POS_SOURCE).cast("long")
    dt = docs.select(
        "doc_id", pos.alias("y"),
        F.explode(
            F.array_distinct(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_RE), 0)
            )
        ).alias("term"),
    )
    counts = dt.groupBy("term").agg(
        F.count(F.lit(1)).alias("n1"),        # docs containing term
        F.sum("y").alias("n11"),              # positive docs containing term
    )
    totals = docs.agg(
        F.count(F.lit(1)).alias("nn"), F.sum(pos).alias("npos")
    )

    def h2(p):  # binary entropy of a probability column, 0·log0 = 0
        def plogp(q):
            return F.when((q > 0) & (q < 1), -q * F.log2(q)).otherwise(F.lit(0.0))

        return plogp(p) + plogp(F.lit(1.0) - p)

    nn = F.col("nn").cast("double")
    n1 = F.col("n1").cast("double")
    n0 = nn - n1
    p1 = F.col("n11").cast("double") / n1
    p0 = (F.col("npos").cast("double") - F.col("n11").cast("double")) / n0
    hc = h2(F.col("npos").cast("double") / nn)
    ig = hc - (n1 / nn) * h2(p1) - (n0 / nn) * h2(p0)
    return (
        counts.crossJoin(F.broadcast(totals))
        .filter(F.col("n1") >= IG_MIN_DF)
        .select(
            "term",
            F.col("n1").cast("long").alias("df"),
            F.col("n11").cast("long").alias("pos_df"),
            F.round(ig, 6).alias("ig"),
        )
        .orderBy(F.desc("ig"), F.asc("term"))
        .limit(IG_K)
    )


FEATURES_IG_SQL = f"""
WITH dt AS (
    SELECT DISTINCT doc_id,
           (source = '{IG_POS_SOURCE}')::BIGINT AS y,
           unnest(regexp_extract_all(lower(text), '{TOKEN_RE_SQL}')) AS term
    FROM documents
),
counts AS (
    SELECT term, count(*)::BIGINT AS n1, sum(y)::BIGINT AS n11 FROM dt GROUP BY term
),
tot AS (
    SELECT count(*)::BIGINT AS nn,
           sum((source = '{IG_POS_SOURCE}')::BIGINT)::BIGINT AS npos
    FROM documents
),
scored AS (
    SELECT term, n1 AS df, n11 AS pos_df,
           (CASE WHEN npos > 0 AND npos < nn
                 THEN -(npos::DOUBLE/nn) * log2(npos::DOUBLE/nn)
                      - (1.0 - npos::DOUBLE/nn) * log2(1.0 - npos::DOUBLE/nn)
                 ELSE 0.0 END)
         - (n1::DOUBLE/nn) * (
               (CASE WHEN n11 > 0 AND n11 < n1
                     THEN -(n11::DOUBLE/n1) * log2(n11::DOUBLE/n1)
                          - (1.0 - n11::DOUBLE/n1) * log2(1.0 - n11::DOUBLE/n1)
                     ELSE 0.0 END))
         - ((nn - n1)::DOUBLE/nn) * (
               (CASE WHEN (npos - n11) > 0 AND (npos - n11) < (nn - n1)
                     THEN -((npos - n11)::DOUBLE/(nn - n1)) * log2((npos - n11)::DOUBLE/(nn - n1))
                          - (1.0 - (npos - n11)::DOUBLE/(nn - n1)) * log2(1.0 - (npos - n11)::DOUBLE/(nn - n1))
                     ELSE 0.0 END))
           AS ig_raw
    FROM counts, tot WHERE n1 >= {IG_MIN_DF}
)
SELECT term, df, pos_df, round(ig_raw, 6) AS ig
FROM scored ORDER BY ig DESC, term ASC LIMIT {IG_K}"""


register("ngram_hotspots", ngram_hotspots, NGRAM_HOTSPOTS_SQL)
register("features_ig", features_ig, FEATURES_IG_SQL)
register("mix_balance", mix_balance, MIX_BALANCE_SQL)


# ---------------------------------------------------------------------------
# dsir_select: importance-resampling data selection (DSIR)
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 512      # hashed-feature dimensionality (paper uses 10^4;
                        # 512 keeps the sf0.01 LMs dense enough to be
                        # discriminative — the state is O(B) either way)
DSIR_ALPHA = 0.5        # add-alpha smoothing on both LMs
DSIR_TARGET_LANG = "en"
DSIR_K = 15


def dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, "Data Selection for Language
    Models via Importance Resampling"): hashed-unigram bag-of-words
    features; a target-domain LM p and a raw-corpus LM q, both add-alpha
    smoothed over B hash buckets; per-doc importance log-weight

        log w(d) = SUM_b count_b(d) * (log2 p_b - log2 q_b)

    and the top-K docs by weight are selected for training. Upstream DSIR
    adds Gumbel noise for a soft resample; the deterministic top-K here is
    the temperature->0 limit — the ranking signal is identical and
    engine-stable (no rand(), same discipline as sample_split/mix_balance).

    Target here = docs with lang = 'en'; raw = the whole corpus. Feature
    hashing is md5-mod-B over the term bytes (identical in both engines).

    Float discipline: each bucket's contribution count*(log2 p - log2 q)
    is f32-rounded (absorbing libm log2 ULP drift), then summed in a
    DETERMINISTIC bucket-ordered double fold; the final weight takes one
    more f32 cast (the text_unigram_ppl discipline).

    Scale shape: one tokenize pass -> ONE (doc, bucket) hash-agg -> ONE
    B-bounded hash-agg for both LMs off the same aggregate (broadcast
    back) -> ONE per-doc ordered fold -> one global top-K. No UDF, no
    driver-side text; the hashed features keep LM state O(B) regardless
    of vocabulary size — exactly why DSIR hashes at pretraining scale."""
    d = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    toks = d.select(
        "doc_id", "lang",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_RE), 0)
        ).alias("term"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("term")), 1, 8), 16, 10)
        .cast("bigint") % DSIR_BUCKETS
    ).alias("bucket")
    db = toks.select("doc_id", "lang", bucket).groupBy(
        "doc_id", "lang", "bucket"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    lm = db.groupBy("bucket").agg(
        F.sum("cnt").alias("rcnt"),
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, F.col("cnt")).otherwise(F.lit(0))
        ).alias("tcnt"),
    )
    tot = lm.agg(
        F.sum("rcnt").alias("rtot"), F.sum("tcnt").alias("ttot")
    )
    ab = float(DSIR_ALPHA) * DSIR_BUCKETS
    p_b = (F.col("tcnt").cast("double") + F.lit(float(DSIR_ALPHA))) / (
        F.col("ttot").cast("double") + F.lit(ab)
    )
    q_b = (F.col("rcnt").cast("double") + F.lit(float(DSIR_ALPHA))) / (
        F.col("rtot").cast("double") + F.lit(ab)
    )
    contrib = (
        db.join(F.broadcast(lm), "bucket")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id", "lang", "bucket", "cnt",
            (
                F.col("cnt").cast("double") * (F.log2(p_b) - F.log2(q_b))
            ).cast("float").alias("c32"),
        )
    )
    weighted = (
        contrib.groupBy("doc_id")
        .agg(
            F.any_value(F.col("lang")).alias("lang"),
            F.sum("cnt").cast("long").alias("n_tokens"),
            F.aggregate(
                F.sort_array(
                    F.collect_list(
                        F.struct("bucket", F.col("c32").cast("double").alias("c"))
                    )
                ),
                F.lit(0.0),
                lambda acc, x: acc + x["c"],
            ).cast("float").alias("log_w"),
        )
    )
    return ranked_top(
        weighted, DSIR_K, F.desc("log_w"), F.asc("doc_id")
    ).select("rank", "doc_id", "lang", "n_tokens", "log_w")


DSIR_SELECT_SQL = f"""
WITH t AS (
    SELECT doc_id, lang,
           unnest(regexp_extract_all(lower(text), '{TOKEN_RE_SQL}')) AS term
    FROM documents
),
db AS (
    SELECT doc_id, lang,
           ('0x' || substr(md5(term), 1, 8))::BIGINT % {DSIR_BUCKETS} AS bucket,
           count(*)::BIGINT AS cnt
    FROM t GROUP BY 1, 2, 3
),
lm AS (
    SELECT bucket, sum(cnt)::BIGINT AS rcnt,
           sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN cnt ELSE 0 END)::BIGINT AS tcnt
    FROM db GROUP BY 1
),
tot AS (SELECT sum(rcnt)::BIGINT AS rtot, sum(tcnt)::BIGINT AS ttot FROM lm),
contrib AS (
    SELECT db.doc_id, db.lang, db.bucket, db.cnt,
           CAST(db.cnt::DOUBLE * (
               log2((lm.tcnt::DOUBLE + {DSIR_ALPHA!r}) / (tot.ttot::DOUBLE + {float(DSIR_ALPHA) * DSIR_BUCKETS!r}))
             - log2((lm.rcnt::DOUBLE + {DSIR_ALPHA!r}) / (tot.rtot::DOUBLE + {float(DSIR_ALPHA) * DSIR_BUCKETS!r}))
           ) AS FLOAT) AS c32
    FROM db JOIN lm USING (bucket), tot
),
weighted AS (
    SELECT doc_id, any_value(lang) AS lang, sum(cnt)::BIGINT AS n_tokens,
           CAST(list_reduce(
               list_prepend(0.0::DOUBLE, list(CAST(c32 AS DOUBLE) ORDER BY bucket)),
               (a, b) -> a + b
           ) AS FLOAT) AS log_w
    FROM contrib GROUP BY doc_id
)
SELECT rank::INTEGER AS rank, doc_id::BIGINT AS doc_id, lang, n_tokens, log_w FROM (
    SELECT row_number() OVER (ORDER BY log_w DESC, doc_id ASC) AS rank,
           doc_id, lang, n_tokens, log_w
    FROM weighted
) WHERE rank <= {DSIR_K} ORDER BY rank"""


register("dsir_select", dsir_select, DSIR_SELECT_SQL)


# ---------------------------------------------------------------------------
# mix_temperature: temperature-based multilingual sampling (XLM-R / mT5)
# ---------------------------------------------------------------------------

TEMP_ALPHA = 0.3        # the XLM-R paper's alpha (mT5 uses 0.3 too):
                        # p_l ∝ n_l^alpha — low-resource languages are
                        # up-weighted, high-resource ones down-weighted
TEMP_BUDGET = 200       # sampled-corpus budget (docs per epoch)


def mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language sampling — the multilingual pretraining
    mixture step (Conneau et al. 2020 XLM-R §3.1; Xue et al. 2021 mT5):
    sampling shares p_l = n_l^alpha / Σ_m n_m^alpha flatten the language
    distribution toward uniform as alpha → 0; a budget of ``TEMP_BUDGET``
    docs is allotted t_l = floor(budget · p_l) per language, filled by the
    deterministically md5-ranked first t_l docs of each language (the
    sample_split no-rand() discipline — resumes and repartitions can never
    change the sample). When t_l exceeds n_l the language repeats across
    epochs upstream; the audit row reports that as ``repeat_factor`` =
    budget·p_l / n_l (the epoch-multiplicity the real pipelines schedule).

    Per-language audit row: (lang, n_docs, share_raw, share_sampled,
    n_selected, repeat_factor, min_sel, max_sel) — the min/max selected
    doc ids witness the deterministic ranked selection.

    Scale shape: one tiny per-language count aggregate broadcast back, one
    narrow ranked-filter pass over (doc_id, lang) — text never shuffles;
    the per-language rank is a window over the language partition (bounded
    by the language count, the natural partition key of this step)."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir).select("doc_id", "lang")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = counts.agg(
        F.sum("n_docs").alias("n_total"),
        F.sum(F.pow(F.col("n_docs").cast("double"), F.lit(float(TEMP_ALPHA))))
        .alias("z"),
    )
    alloc = (
        counts.crossJoin(F.broadcast(tot))
        .withColumn(
            "p",
            F.pow(F.col("n_docs").cast("double"), F.lit(float(TEMP_ALPHA)))
            / F.col("z"),
        )
        .withColumn(
            "t", F.floor(F.lit(float(TEMP_BUDGET)) * F.col("p")).cast("long")
        )
    )
    rank = F.row_number().over(
        Window.partitionBy("lang").orderBy(
            F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
        )
    )
    sel = (
        d.join(F.broadcast(alloc.select("lang", "t")), "lang")
        .withColumn("r", rank)
        .filter(F.col("r") <= F.col("t"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_selected"),
            F.min("doc_id").cast("long").alias("min_sel"),
            F.max("doc_id").cast("long").alias("max_sel"),
        )
    )
    return (
        alloc.join(sel, "lang", "left")
        .select(
            "lang",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.round(F.col("n_docs").cast("double") / F.col("n_total"), 6)
            .alias("share_raw"),
            F.round(F.col("p"), 6).alias("share_sampled"),
            F.coalesce(F.col("n_selected"), F.lit(0)).cast("long")
            .alias("n_selected"),
            F.round(
                F.lit(float(TEMP_BUDGET)) * F.col("p")
                / F.col("n_docs").cast("double"), 6,
            ).alias("repeat_factor"),
            F.col("min_sel").cast("long"),
            F.col("max_sel").cast("long"),
        )
        .orderBy("lang")
    )


MIX_TEMPERATURE_SQL = f"""
WITH d AS (SELECT doc_id, lang FROM documents),
counts AS (SELECT lang, count(*)::BIGINT AS n_docs FROM d GROUP BY 1),
tot AS (
    SELECT sum(n_docs)::BIGINT AS n_total,
           sum(pow(n_docs::DOUBLE, {TEMP_ALPHA})) AS z
    FROM counts
),
alloc AS (
    SELECT lang, n_docs,
           pow(n_docs::DOUBLE, {TEMP_ALPHA}) / tot.z AS p,
           CAST(floor({float(TEMP_BUDGET)!r} * (pow(n_docs::DOUBLE, {TEMP_ALPHA}) / tot.z)) AS BIGINT) AS t,
           tot.n_total
    FROM counts, tot
),
ranked AS (
    SELECT d.lang, d.doc_id,
           row_number() OVER (
               PARTITION BY d.lang ORDER BY md5(d.doc_id::VARCHAR), d.doc_id
           ) AS r
    FROM d
),
sel AS (
    SELECT rk.lang, count(*)::BIGINT AS n_selected,
           min(rk.doc_id)::BIGINT AS min_sel, max(rk.doc_id)::BIGINT AS max_sel
    FROM ranked rk JOIN alloc a USING (lang)
    WHERE rk.r <= a.t
    GROUP BY rk.lang
)
SELECT a.lang, a.n_docs,
       round(a.n_docs::DOUBLE / a.n_total, 6) AS share_raw,
       round(a.p, 6) AS share_sampled,
       COALESCE(s.n_selected, 0)::BIGINT AS n_selected,
       round({float(TEMP_BUDGET)!r} * a.p / a.n_docs::DOUBLE, 6) AS repeat_factor,
       s.min_sel, s.max_sel
FROM alloc a LEFT JOIN sel s USING (lang)
ORDER BY a.lang"""


register("mix_temperature", mix_temperature, MIX_TEMPERATURE_SQL)


# ---------------------------------------------------------------------------
# dedup_spans: cross-document duplicate n-gram span filter (exact-substring
# dedup at n-gram granularity — Lee et al. 2021, "Deduplicating Training
# Data Makes Language Models Better")
# ---------------------------------------------------------------------------

SPAN_N = 10          # gram width: the paper dedupes 50-token substrings;
                     # at n-gram granularity a shorter window (10) keeps the
                     # tiny test corpus's signal while the math is identical
SPAN_DUP_FRAC = 0.2  # reject a doc when >= this fraction of its n-gram
                     # positions also occur verbatim in ANOTHER doc


def dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate-span scoring: for every doc, the fraction of
    its token ``SPAN_N``-gram positions whose gram appears verbatim in at
    least one OTHER document; docs at or above ``SPAN_DUP_FRAC`` are
    rejected. This is the distributed n-gram approximation of Lee et al.'s
    suffix-array exact-substring dedup (the suffix array finds maximal
    repeated substrings; positional n-grams find the same spans at fixed
    granularity and shard trivially).

    Distinct from ``decontaminate`` (corpus vs a tiny broadcast PROBE set)
    and ``ngram_hotspots`` (corpus-hottest grams): this scores EVERY doc
    against the whole corpus, so the gram table is corpus-sized on both
    sides.

    Scale shape: grams stay inside one array transform per doc (zero
    shuffle to build); ONE map-side-combinable groupBy computes per-gram
    distinct-doc counts; the join back is a shuffle equi-join on the gram —
    the standard shape for corpus-vs-corpus overlap at 100 TB (both sides
    hash-partition on the gram key; no broadcast is possible and none is
    attempted). Per-doc rollup is a second small agg keyed by doc_id.
    Hot boilerplate grams skew the gram key: the join carries counts (one
    row per gram), never the gram's posting fan-out, so skew is bounded at
    one row per distinct gram on the build side.
    """
    d = _toks_docs(spark, sf_dir)
    n = F.size("toks")
    grams = F.when(
        n >= SPAN_N,
        F.transform(
            F.sequence(F.lit(0), n - SPAN_N),
            lambda i: F.array_join(F.slice("toks", i + 1, SPAN_N), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    ex = d.select("doc_id", F.explode(grams).alias("g"))
    gdf = ex.groupBy("g").agg(F.count_distinct("doc_id").alias("gdf"))
    per = (
        ex.join(gdf, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("gdf") >= 2).cast("long")).alias("n_dup"),
        )
    )
    frac = F.when(
        F.col("n_grams") > 0, F.col("n_dup") / F.col("n_grams")
    ).otherwise(F.lit(0.0))
    return (
        d.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_dup", F.lit(0)).cast("long").alias("n_dup"),
        )
        .withColumn("dup_frac", F.round(frac, 6))
        .withColumn("keep", frac < F.lit(SPAN_DUP_FRAC))  # threshold on the
        # UNROUNDED ratio (the oracle does too; rounding is display-only)
        .orderBy("doc_id")
    )


def _toks_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).withColumn(
        "toks",
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_RE), 0),
    )


DEDUP_SPANS_SQL = f"""
WITH t AS (
    SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE_SQL}') AS toks
    FROM documents
),
g AS (
    SELECT t.doc_id,
           array_to_string(t.toks[u.i : u.i + {SPAN_N - 1}], ' ') AS g
    FROM t, unnest(generate_series(1, greatest(len(t.toks) - {SPAN_N - 1}, 0))) AS u(i)
),
gdf AS (
    SELECT g, count(DISTINCT doc_id) AS gdf FROM g GROUP BY g
),
per AS (
    SELECT g.doc_id,
           count(*)::BIGINT AS n_grams,
           sum(CASE WHEN gdf.gdf >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup
    FROM g JOIN gdf USING (g)
    GROUP BY g.doc_id
)
SELECT t.doc_id,
       COALESCE(per.n_grams, 0)::BIGINT AS n_grams,
       COALESCE(per.n_dup, 0)::BIGINT AS n_dup,
       round(CASE WHEN COALESCE(per.n_grams, 0) > 0
                  THEN per.n_dup::DOUBLE / per.n_grams ELSE 0.0 END, 6) AS dup_frac,
       (CASE WHEN COALESCE(per.n_grams, 0) > 0
             THEN per.n_dup::DOUBLE / per.n_grams ELSE 0.0 END)
           < {SPAN_DUP_FRAC} AS keep
FROM t LEFT JOIN per USING (doc_id)
ORDER BY doc_id"""


register("dedup_spans", dedup_spans, DEDUP_SPANS_SQL)


# ---------------------------------------------------------------------------
# dedup_keep_best: quality-aware exemplar selection per duplicate cluster
# ---------------------------------------------------------------------------

def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware cluster dedup: the same near-dup clusters as
    ``dedup_clusters`` (shingle-Jaccard ≥ 0.8 pairs → connected
    components), but the kept exemplar is the HIGHEST-QUALITY member —
    most tokens, ties to the lowest doc_id — instead of the arbitrary
    component-minimum id. This is the keep-longest rule production dedup
    passes apply (a duplicate cluster usually holds truncated/boilerplate
    variants of one best copy; keeping the minimum id throws away content).

    Scale shape: identical to ``dedup_clusters`` up to the component
    labels (superstep equi-joins, edge-list-bounded); exemplar choice adds
    ONE hash-aggregate of a (n_tokens, -doc_id) struct max per cluster —
    the argmax never shuffles doc text, only the per-doc token count
    (computed in the same pruned projection the shingle pass already
    reads) joined back on cluster_id."""
    docs = _docs(spark, sf_dir)
    sh = shingles(docs, n=3, max_shingle_df=SHINGLE_MAX_DF)
    pairs = jaccard_pairs(sh, CLUSTER_JACCARD_T).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    cc = connected_components(pairs)
    ntok = docs.select(
        "doc_id",
        F.size(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_RE), 0)
        ).cast("long").alias("n_tokens"),
    )
    m = cc.join(ntok, "doc_id")
    best = m.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max(F.struct(F.col("n_tokens"), (-F.col("doc_id")).alias("nd"))).alias("b"),
    )
    return (
        m.join(best, "cluster_id")
        .select(
            "cluster_id", "doc_id", "n_tokens",
            F.col("n_docs").cast("long").alias("n_docs"),
            (
                (F.col("n_tokens") == F.col("b.n_tokens"))
                & (F.col("doc_id") == -F.col("b.nd"))
            ).alias("keep"),
        )
        .orderBy("cluster_id", "doc_id")
    )


# Oracle: the dedup_clusters CTE chain, plus a per-doc token count and a
# row_number argmax (tokens desc, doc_id asc) inside each component.
DEDUP_KEEP_BEST_SQL = f"""
WITH RECURSIVE tl AS (
    SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE_SQL}') AS toks FROM documents
),
t AS (
    SELECT doc_id, unnest(toks) AS term, generate_subscripts(toks, 1) AS pos FROM tl
),
sh0 AS (
    SELECT DISTINCT a.doc_id, a.term || ' ' || b.term || ' ' || c.term AS shingle
    FROM t a
    JOIN t b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
    JOIN t c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
),
hot AS (
    SELECT shingle FROM sh0 GROUP BY 1 HAVING count(*) > {SHINGLE_MAX_DF}
),
sh AS (SELECT * FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
sz AS (SELECT doc_id, count(*)::BIGINT AS n FROM sh GROUP BY 1),
cnd AS (
    SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*)::BIGINT AS inter
    FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
    GROUP BY 1, 2
),
pairs AS (
    SELECT doc_a, doc_b FROM cnd
    JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
    WHERE inter::DOUBLE / (sa.n + sb.n - inter) >= {CLUSTER_JACCARD_T}
),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION ALL SELECT doc_b, doc_a FROM pairs
),
nodes AS (SELECT DISTINCT src AS doc FROM edges),
reach AS (
    SELECT doc, doc AS r FROM nodes
    UNION
    SELECT e.dst AS doc, reach.r FROM reach JOIN edges e ON e.src = reach.doc
),
cc AS (SELECT doc AS doc_id, min(r) AS cluster_id FROM reach GROUP BY doc),
ntok AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens FROM tl),
m AS (
    SELECT cc.cluster_id, cc.doc_id, ntok.n_tokens,
           count(*) OVER (PARTITION BY cc.cluster_id)::BIGINT AS n_docs,
           row_number() OVER (
               PARTITION BY cc.cluster_id
               ORDER BY ntok.n_tokens DESC, cc.doc_id ASC
           ) AS rk
    FROM cc JOIN ntok ON ntok.doc_id = cc.doc_id
)
SELECT cluster_id, doc_id, n_tokens, n_docs, rk = 1 AS keep
FROM m ORDER BY cluster_id, doc_id"""


register("dedup_keep_best", dedup_keep_best, DEDUP_KEEP_BEST_SQL)


# ---------------------------------------------------------------------------
# conv_render: session -> rendered training document (chat-template analog)
# ---------------------------------------------------------------------------

def conv_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Render each gap-delimited session of the event stream into ONE
    training document: events ordered by (ts, event_id), each emitted as a
    ``type: props`` line, newline-joined — the chat-template rendering step
    that turns raw multi-turn transcripts (conv_id, turn_idx, role, text)
    into model-ready text. Session identity is the same Spark-native
    ``F.session_window`` merge as ``stream_sessionize`` (closed interval
    [first, last+gap]); the oracle reproduces it with the strict-islands
    construction.

    Scale shape: ONE hash shuffle on user_id (session_window partial+final
    agg); within-session ordering is ``sort_array`` over the collected
    struct list — per-GROUP state only (a session is bounded by the
    inactivity gap, never the corpus), so no global or per-user window sort
    anywhere. The rendered text is built JVM-side (transform + array_join,
    no Python). Runs unchanged under Structured Streaming with a watermark,
    which is the continuous-ingest path."""
    ev = _t(spark, sf_dir, "events")
    sess = (
        ev.groupBy(
            "user_id",
            F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("w"),
        )
        .agg(
            F.min("ts").alias("session_start"),
            F.count(F.lit(1)).cast("long").alias("n_turns"),
            F.sort_array(
                F.collect_list(F.struct("ts", "event_id", "event_type", "props"))
            ).alias("turns"),
        )
    )
    rendered = F.array_join(
        F.transform(
            "turns", lambda t: F.concat_ws(": ", t.event_type, t.props)
        ),
        "\n",
    )
    return (
        sess.select(
            "user_id",
            "session_start",
            "n_turns",
            rendered.alias("text"),
            F.length(rendered).cast("long").alias("n_chars"),
        )
        .orderBy("user_id", "session_start")
    )


CONV_RENDER_SQL = f"""
WITH o AS (
    SELECT user_id, ts, event_id, event_type, props,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR ts > lag(ts) OVER w + INTERVAL {SESSION_GAP_MIN} MINUTE
                THEN 1 ELSE 0 END AS is_new
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
    SELECT *, sum(is_new) OVER (
        PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING
    ) AS sess
    FROM o
),
r AS (
    SELECT user_id,
           min(ts) AS session_start,
           count(*)::BIGINT AS n_turns,
           string_agg(event_type || ': ' || props, chr(10) ORDER BY ts, event_id) AS text
    FROM s GROUP BY user_id, sess
)
SELECT user_id, session_start, n_turns, text, length(text)::BIGINT AS n_chars
FROM r ORDER BY user_id, session_start"""


register("conv_render", conv_render, CONV_RENDER_SQL)


# ---------------------------------------------------------------------------
# conv_context_windows: (context → target) example materialization — the
# next-turn-prediction training pairs a transcripts pipeline emits
# ---------------------------------------------------------------------------

CONTEXT_TURNS = 3   # previous turns rendered into each example's context


def conv_context_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize one training example per turn: the previous
    ``CONTEXT_TURNS`` same-session turns rendered as the context (newline-
    joined ``type: props`` lines, ``conv_render``'s template) and the turn
    itself as the target — the (context → next turn) pair layout a
    next-turn-prediction fine-tune consumes. Session identity is the same
    inactivity-gap rule as ``stream_sessionize`` (a context never crosses a
    session break).

    Scale shape: ONE hash shuffle on user_id; session assignment and the
    sliding frame are in-partition window passes (per-user data is bounded
    by conversation length, never the corpus — the partition key IS the
    conversation key, so skew is bounded by the longest conversation). The
    rendering is JVM-side string work; no Python, no crossJoin, no global
    sort."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    line = F.concat_ws(": ", F.col("event_type"), F.col("props"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.expr(f"INTERVAL {SESSION_GAP_MIN} MINUTES")
    is_new = (
        F.col("ts") > F.lag("ts").over(w) + gap
    ).cast("long")
    sessed = ev.select(
        "user_id", "ts", "event_id", line.alias("line")
    ).withColumn(
        "sess",
        F.sum(F.coalesce(is_new, F.lit(1))).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    wf = (
        Window.partitionBy("user_id", "sess")
        .orderBy("ts", "event_id")
        .rowsBetween(-CONTEXT_TURNS, -1)
    )
    ctx = F.collect_list("line").over(wf)
    return (
        sessed.select(
            F.col("user_id").cast("long"),
            F.col("event_id").cast("long"),
            F.size(ctx).cast("long").alias("n_context"),
            F.array_join(ctx, "\n").alias("context"),
            F.col("line").alias("target"),
        )
        .orderBy("user_id", "event_id")
    )


CONV_CONTEXT_WINDOWS_SQL = f"""
WITH o AS (
    SELECT user_id, ts, event_id,
           event_type || ': ' || props AS line,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR ts > lag(ts) OVER w + INTERVAL {SESSION_GAP_MIN} MINUTE
                THEN 1 ELSE 0 END AS is_new
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
    SELECT *, sum(is_new) OVER (
        PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING
    ) AS sess
    FROM o
)
SELECT user_id::BIGINT AS user_id, event_id::BIGINT AS event_id,
       CAST(count(*) OVER wf AS BIGINT) AS n_context,
       COALESCE(string_agg(line, chr(10)) OVER wf, '') AS context,
       line AS target
FROM s
WINDOW wf AS (
    PARTITION BY user_id, sess ORDER BY ts, event_id
    ROWS BETWEEN {CONTEXT_TURNS} PRECEDING AND 1 PRECEDING
)
ORDER BY user_id, event_id"""


register("conv_context_windows", conv_context_windows, CONV_CONTEXT_WINDOWS_SQL)


# ---------------------------------------------------------------------------
# pipeline_select: the composed end-to-end training-data selection funnel
# ---------------------------------------------------------------------------

def pipeline_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED selection funnel a pretraining pipeline actually ships —
    one call, one row per document, every stage's verdict as an audit
    column (the published "filtering funnel" of RefinedWeb/FineWeb-style
    pipelines):

    1. ``quality_ok``   — the C4/Gopher accept decision (quality_filter_flags);
    2. ``exact_dup``    — doc is an exact md5(text) duplicate and NOT the
                          minimum-id keeper;
    3. ``near_dup``     — doc sits in a shingle-Jaccard cluster and is NOT
                          the keep-longest exemplar (dedup_keep_best);
    4. ``selected``     — quality_ok AND NOT exact_dup AND NOT near_dup.

    Flags are computed independently (audit semantics: a rejected doc still
    shows its other verdicts) and composed with one AND — the funnel counts
    fall out of a trivial aggregate over this table.

    Scale shape: pure composition of already-audited stages — the quality
    pass (two narrow passes + one gram hash-agg), the exact-dup keeper (ONE
    md5 hash-agg), the near-dup chain (bounded-fan-out shingle join +
    superstep components) — glued by doc_id equi-joins, which co-partition
    after the first hash exchange. Nothing new shuffles doc text."""
    from .textmetrics import quality_filter_flags

    q = quality_filter_flags(spark, sf_dir).select(
        "doc_id", F.col("accept").alias("quality_ok")
    )
    docs = _docs(spark, sf_dir)
    keep = docs.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("keeper")
    )
    e = (
        docs.select("doc_id", F.md5("text").alias("h"))
        .join(keep, "h")
        .select("doc_id", (F.col("doc_id") != F.col("keeper")).alias("exact_dup"))
    )
    nb = dedup_keep_best(spark, sf_dir).select(
        "doc_id", (~F.col("keep")).alias("nd")
    )
    return (
        q.join(e, "doc_id")
        .join(nb, "doc_id", "left")
        .select(
            "doc_id", "quality_ok", "exact_dup",
            F.coalesce("nd", F.lit(False)).alias("near_dup"),
            (
                F.col("quality_ok") & ~F.col("exact_dup")
                & ~F.coalesce("nd", F.lit(False))
            ).alias("selected"),
        )
        .orderBy("doc_id")
    )


def _pipeline_select_sql() -> str:
    from .textmetrics import (
        _STOP_IN, QF_MAX_DUP2, QF_MAX_MEAN_LEN, QF_MAX_TOKENS,
        QF_MIN_MEAN_LEN, QF_MIN_STOP, QF_MIN_TOKENS,
    )

    return f"""
WITH RECURSIVE tl AS (
    SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE_SQL}') AS toks FROM documents
),
t AS (
    SELECT doc_id, unnest(toks) AS term, generate_subscripts(toks, 1) AS pos FROM tl
),
base AS (
    SELECT doc_id, len(toks)::BIGINT AS n_tokens,
           CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
               / len(toks) AS mean_len,
           len(list_intersect(list_distinct(toks), [{_STOP_IN}]))::BIGINT AS n_stop
    FROM tl
),
g AS (
    SELECT a.doc_id, a.term || ' ' || b.term AS gram
    FROM t a JOIN t b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
),
dup AS (
    SELECT doc_id, CAST(sum(c) - count(*) AS DOUBLE) / sum(c) AS dup2_frac
    FROM (SELECT doc_id, gram, count(*)::BIGINT AS c FROM g GROUP BY 1, 2)
    GROUP BY doc_id
),
q AS (
    SELECT b.doc_id,
           NOT (b.n_tokens < {QF_MIN_TOKENS} OR b.n_tokens > {QF_MAX_TOKENS}
                OR b.mean_len < {QF_MIN_MEAN_LEN!r} OR b.mean_len > {QF_MAX_MEAN_LEN!r}
                OR b.n_stop < {QF_MIN_STOP}
                OR COALESCE(d.dup2_frac, 0.0) > {QF_MAX_DUP2!r}) AS quality_ok
    FROM base b LEFT JOIN dup d USING (doc_id)
),
e AS (
    SELECT doc_id,
           doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS exact_dup
    FROM documents
),
sh0 AS (
    SELECT DISTINCT a.doc_id, a.term || ' ' || b.term || ' ' || c.term AS shingle
    FROM t a
    JOIN t b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
    JOIN t c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
),
hot AS (
    SELECT shingle FROM sh0 GROUP BY 1 HAVING count(*) > {SHINGLE_MAX_DF}
),
sh AS (SELECT * FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
sz AS (SELECT doc_id, count(*)::BIGINT AS n FROM sh GROUP BY 1),
cnd AS (
    SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*)::BIGINT AS inter
    FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
    GROUP BY 1, 2
),
pairs AS (
    SELECT doc_a, doc_b FROM cnd
    JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
    WHERE inter::DOUBLE / (sa.n + sb.n - inter) >= {CLUSTER_JACCARD_T}
),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION ALL SELECT doc_b, doc_a FROM pairs
),
nodes AS (SELECT DISTINCT src AS doc FROM edges),
reach AS (
    SELECT doc, doc AS r FROM nodes
    UNION
    SELECT e2.dst AS doc, reach.r FROM reach JOIN edges e2 ON e2.src = reach.doc
),
cc AS (SELECT doc AS doc_id, min(r) AS cluster_id FROM reach GROUP BY doc),
ntok AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens FROM tl),
m AS (
    SELECT cc.doc_id,
           row_number() OVER (
               PARTITION BY cc.cluster_id
               ORDER BY ntok.n_tokens DESC, cc.doc_id ASC
           ) AS rk
    FROM cc JOIN ntok ON ntok.doc_id = cc.doc_id
)
SELECT d.doc_id, q.quality_ok, e.exact_dup,
       COALESCE(m.rk > 1, FALSE) AS near_dup,
       (q.quality_ok AND NOT e.exact_dup AND NOT COALESCE(m.rk > 1, FALSE)) AS selected
FROM documents d
JOIN q ON q.doc_id = d.doc_id
JOIN e ON e.doc_id = d.doc_id
LEFT JOIN m ON m.doc_id = d.doc_id
ORDER BY d.doc_id"""


register("pipeline_select", pipeline_select, _pipeline_select_sql())


# ---------------------------------------------------------------------------
# stream_heavy_hitters: Misra-Gries sketch + exact recount (bounded memory)
# ---------------------------------------------------------------------------

HH_TOPK = 20   # report the top-k terms by exact count
HH_CAP = 400   # Misra-Gries counter capacity per partition


def heavy_hitter_candidates(toks: DataFrame) -> DataFrame:
    """Pass 1 of the heavy-hitters pipeline: per-partition Misra-Gries
    summaries (≤ ``HH_CAP`` counters each, Arrow-batched — per-batch counts
    come from one vectorized ``value_counts``, the decrement step touches
    only the ≤ cap+batch-vocab live counters). GUARANTEE (pigeonhole over
    partitions): any term with global frequency > n/HH_CAP exceeds
    n_p/HH_CAP in at least one partition, and MG(cap) never evicts a term
    while its residual count is positive — so the candidate union contains
    every such term. Candidates are O(cap × partitions) rows — tiny."""
    import pandas as pd

    def mg(batches):
        from collections import Counter

        s: Counter = Counter()
        for pdf in batches:
            s.update(pdf["term"].value_counts().to_dict())
            if len(s) > HH_CAP:
                # batched decrement: subtracting the (cap+1)-th largest
                # count from every live counter zeroes out at least
                # len(s)-cap of them — each subtracted unit coincides with
                # >= cap other subtractions, the classic MG charge argument
                d = sorted(s.values(), reverse=True)[HH_CAP]
                s = Counter({t: c - d for t, c in s.items() if c > d})
        yield pd.DataFrame({"term": list(s.keys())})

    return toks.mapInPandas(mg, "term string").distinct()


def stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters (frequent terms) via a mergeable bounded-memory sketch
    + exact recount — the missing member of the sketch family (HLL unique,
    approx percentile, MinHash, SimHash): corpus-hottest terms WITHOUT an
    O(vocabulary) aggregation state. At 10^12 turns the live vocabulary is
    10^8+, so a plain (term) hash-agg holds that many counters per
    executor; Misra-Gries caps pass 1 at ``HH_CAP`` counters per partition
    and the exact recount's agg state at O(candidates).

    Two passes: (1) per-partition MG candidate generation — zero shuffle of
    corpus tokens, candidates broadcast back; (2) exact count restricted to
    candidates, TakeOrdered top-k. The result is EXACT, not approximate:
    the MG union provably contains every term with freq > n/HH_CAP, and a
    guard falls back to the full aggregate in the (never-at-this-data)
    case that the k-th exact count fails that bound."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_RE), 0)
        ).alias("term")
    )
    cand = heavy_hitter_candidates(toks)
    top = (
        toks.join(F.broadcast(cand), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("term"))
        .limit(HH_TOPK)
    )
    rows = top.collect()
    n = docs.select(
        F.sum(
            F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_RE), 0))
        )
    ).head()[0]
    if len(rows) == HH_TOPK and rows[-1].cnt * HH_CAP > n:
        return top  # sketch guarantee holds: top-k is provably exact
    # guard: k-th count not above n/cap — recount everything exactly
    return (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("term"))
        .limit(HH_TOPK)
    )


STREAM_HEAVY_HITTERS_SQL = f"""
WITH t AS (
    SELECT unnest(regexp_extract_all(lower(text), '{TOKEN_RE_SQL}')) AS term
    FROM documents
)
SELECT term, count(*)::BIGINT AS cnt
FROM t GROUP BY 1 ORDER BY cnt DESC, term ASC LIMIT {HH_TOPK}"""


register("stream_heavy_hitters", stream_heavy_hitters, STREAM_HEAVY_HITTERS_SQL)


# ---------------------------------------------------------------------------
# BPE tokenizer induction (Sennrich et al. 2016, "Neural Machine Translation
# of Rare Words with Subword Units") — the vocabulary-training step of a
# pretraining pipeline: learn merge rules from corpus word frequencies.
# ---------------------------------------------------------------------------

BPE_TOP_PAIRS = 20   # registered entry: the first merge round's candidates
BPE_MERGES = 8       # trainer: merge rules to learn (pytest-pinned)
BPE_EOW = "</w>"     # Sennrich word-end marker


def _bpe_word_syms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(freq, syms) — corpus word frequencies with each word split into its
    initial symbol sequence (characters + the end-of-word marker). BPE
    trains on the AGGREGATED word table, so corpus size only enters through
    one whitespace-token hash-agg; the state the merge loop iterates is
    O(distinct words), partitioned like any other table."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    wf = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    )
    return wf.select(
        "freq",
        F.expr(
            f"concat(filter(split(word, ''), x -> x != ''), array('{BPE_EOW}'))"
        ).alias("syms"),
    )


def _bpe_pair_counts(state: DataFrame) -> DataFrame:
    """Adjacent-pair frequencies over the (freq, syms) state — ONE explode +
    map-side-combinable hash-agg (the hot loop body; everything JVM-side)."""
    pairs = state.select(
        "freq",
        F.explode(
            F.expr(
                "transform(sequence(1, size(syms) - 1),"
                " i -> struct(syms[i - 1] AS a, syms[i] AS b))"
            )
        ).alias("p"),
    )
    return pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b")).agg(
        F.sum("freq").alias("cnt")
    )


def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first BPE merge round's candidate table: top adjacent symbol
    pairs by corpus frequency ((cnt desc, a, b) — the deterministic rule
    the trainer uses to pick each merge)."""
    return (
        _bpe_pair_counts(_bpe_word_syms(spark, sf_dir))
        .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
        .limit(BPE_TOP_PAIRS)
    )


def bpe_train(
    spark: SparkSession,
    sf_dir: str | None = None,
    *,
    words: DataFrame | None = None,
    n_merges: int = BPE_MERGES,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merge rules. Each round: one distributed
    pair-count aggregation, a 1-row collect of the winner ((cnt desc, a, b)
    tiebreak), then the merge applied to every word's symbol array with a
    JVM ``aggregate`` left fold — Sennrich's greedy leftmost-first,
    non-overlapping pass (a merged output can never chain into the same
    round's left operand: p1 + p2 == p1 is impossible). The driver loop is
    O(n_merges) rounds over the small word table — the Lloyd-iteration
    discipline of ``train_kmeans``; ``localCheckpoint`` truncates the
    per-round expression lineage."""
    if words is None:
        assert sf_dir is not None
        state = _bpe_word_syms(spark, sf_dir)
    else:
        state = words.select(
            "freq",
            F.expr(
                f"concat(filter(split(word, ''), x -> x != ''), array('{BPE_EOW}'))"
            ).alias("syms"),
        )
    state = state.localCheckpoint()
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        top = (
            _bpe_pair_counts(state)
            .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not top or int(top[0].cnt) < 2:
            break
        a, b = top[0].a, top[0].b
        merges.append((a, b))
        qa, qb = a.replace("'", "\\'"), b.replace("'", "\\'")
        qm = (a + b).replace("'", "\\'")
        state = state.select(
            "freq",
            F.expr(
                "aggregate(syms, cast(array() as array<string>), (acc, x) -> "
                f"CASE WHEN size(acc) > 0 AND element_at(acc, -1) = '{qa}' "
                f"AND x = '{qb}' "
                f"THEN concat(slice(acc, 1, size(acc) - 1), array('{qm}')) "
                "ELSE concat(acc, array(x)) END)"
            ).alias("syms"),
        ).localCheckpoint()
    return merges


BPE_PAIR_COUNTS_SQL = f"""
WITH w AS (
    SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents
),
wf AS (
    SELECT word, count(*)::BIGINT AS freq FROM w WHERE word != '' GROUP BY word
),
syms AS (
    SELECT freq, list_append(regexp_extract_all(word, '.'), '{BPE_EOW}') AS s
    FROM wf
),
idx AS (SELECT freq, s, unnest(range(1, len(s))) AS i FROM syms),
pc AS (
    SELECT s[i] AS a, s[i + 1] AS b, sum(freq)::BIGINT AS cnt
    FROM idx GROUP BY 1, 2
)
SELECT a, b, cnt FROM pc ORDER BY cnt DESC, a ASC, b ASC LIMIT {BPE_TOP_PAIRS}"""

register("bpe_pair_counts", bpe_pair_counts, BPE_PAIR_COUNTS_SQL)


# Fixed merge-rule model for the ENCODE entry — trained once by bpe_train
# over the sf0.01 fixture corpus (deterministic; the trainer itself is
# pytest-pinned on the textbook fixture). A stored model keeps the oracle a
# static SQL string — the CLASSIFY_WEIGHTS discipline.
BPE_RULES: list[tuple[str, str]] = [
    ("e", "r"), ("e", "</w>"), ("n", "</w>"), ("er", "</w>"),
    ("o", "w"), ("ow", "</w>"), ("o", "r"), ("s", "t"),
]


def bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the stored BPE merge rules to every document and report the
    per-doc subword budget (words, subword tokens) — the tokenizer-cost
    accounting step of a packing pipeline. The symbol sequence rides as a
    space-delimited string and each rule is ONE ``replace(' a b ' →
    ' ab ')`` — string replace is left-to-right and non-overlapping in
    both engines, which IS Sennrich's greedy merge pass, so the whole
    encoder is a chain of JVM string ops: no UDF, no explode beyond the
    word split, embarrassingly parallel."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    words = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("word")
    ).filter(F.col("word") != "")
    s = F.concat(
        F.lit(" "),
        F.array_join(F.expr("filter(split(word, ''), x -> x != '')"), " "),
        F.lit(f" {BPE_EOW} "),
    )
    for a, b in BPE_RULES:
        s = F.replace(s, F.lit(f" {a} {b} "), F.lit(f" {a}{b} "))
    return (
        words.withColumn("ns", F.size(F.split(F.trim(s), " ")).cast("long"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("ns").alias("n_subwords"),
        )
        .orderBy("doc_id")
    )


def _bpe_replace_chain_sql() -> str:
    expr = f"' ' || array_to_string(regexp_extract_all(word, '.'), ' ') || ' {BPE_EOW} '"
    for a, b in BPE_RULES:
        expr = f"replace({expr}, ' {a} {b} ', ' {a}{b} ')"
    return expr


BPE_ENCODE_SQL = f"""
WITH w AS (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents
),
ws AS (SELECT doc_id, word FROM w WHERE word != ''),
enc AS (SELECT doc_id, {_bpe_replace_chain_sql()} AS s FROM ws),
cnt AS (SELECT doc_id, len(string_split(trim(s), ' '))::BIGINT AS ns FROM enc)
SELECT doc_id::BIGINT AS doc_id, count(*)::BIGINT AS n_words,
       sum(ns)::BIGINT AS n_subwords
FROM cnt GROUP BY doc_id ORDER BY doc_id"""

register("bpe_encode", bpe_encode, BPE_ENCODE_SQL)


# --- padding-waste vs length-bucketing sweep --------------------------------

BUCKET_LEVELS = (1, 4, 16)   # 1 = no bucketing (random-order baseline shape)
BUCKET_BATCH = 32            # docs per padded batch


def pack_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching padding-waste sweep — the tuning curve
    behind every pad-to-max batching pipeline (HF `group_by_length`,
    fairseq's length-bucketed iterators): docs sort into B quantile
    buckets by whitespace token length (ntile over (length, doc_id)),
    then batch in fixed groups of ``BUCKET_BATCH`` in ARRIVAL (doc_id)
    order within each bucket — group_by_length's contract: the bucket
    bounds the length spread, the within-bucket order stays stream order
    — then pad to the batch max; waste = padded-but-empty tokens / padded
    total. B=1 is the unbucketed arrival-order baseline; more buckets put
    like-length docs together, so waste falls (pytest-pinned on this
    corpus). Output (n_buckets, padding_waste).

    Scale shape: the global (len, doc_id) rank is a DISTRIBUTED rank —
    range-repartition + per-partition row_number + broadcast partition
    offsets (the pack_sequences two-pass recipe; NO unpartitioned window
    ever sees doc rows) — and the ntile bucket derives from the rank in
    closed form (first N%B buckets get ⌈N/B⌉ rows, the SQL-standard rule
    DuckDB's ntile implements, which is what the oracle cross-checks);
    per level one bucket-partitioned window and one two-level hash-agg;
    no data is materialized padded — waste is computed from
    (max, sum, count) per batch."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir).select(
        "doc_id", F.size(F.split(F.col("text"), " ")).cast("long").alias("len")
    )
    parts = (
        d.repartitionByRange(32, "len", "doc_id")
        .sortWithinPartitions("len", "doc_id")
        .withColumn("pid", F.spark_partition_id())
    )
    # per-partition counts are metadata (≤ #partitions rows, like
    # pack_sequences' group table): prefix-sum on the driver, broadcast back
    pc = sorted(
        (int(r["pid"]), int(r["count"]))
        for r in parts.groupBy("pid").count().collect()
    )
    offs, acc = [], 0
    for pid, cnt in pc:
        offs.append((pid, acc))
        acc += cnt
    offsets = spark.createDataFrame(offs, "pid int, off long")
    wp = Window.partitionBy("pid").orderBy(F.asc("len"), F.asc("doc_id"))
    ranked = (
        parts.withColumn("prn", F.row_number().over(wp))
        .join(F.broadcast(offsets), "pid")
        .withColumn("rnk", (F.col("prn") + F.col("off")).cast("long"))
    )
    n_total = d.count()
    legs = []
    for b in BUCKET_LEVELS:
        size_small = n_total // b
        n_big = n_total % b
        big_span = n_big * (size_small + 1)
        r0 = F.col("rnk") - 1
        bucket = F.when(
            r0 < F.lit(big_span), (r0 / F.lit(size_small + 1)).cast("long") + 1
        ).otherwise(
            F.lit(n_big) + ((r0 - F.lit(big_span)) / F.lit(size_small)).cast("long") + 1
        )
        bucketed = ranked.withColumn("bucket", bucket)
        wb = Window.partitionBy("bucket").orderBy(F.asc("doc_id"))
        batched = bucketed.withColumn(
            "batch", ((F.row_number().over(wb) - 1) / F.lit(BUCKET_BATCH)).cast("long")
        )
        per_batch = batched.groupBy("bucket", "batch").agg(
            F.max("len").alias("mx"),
            F.sum("len").alias("sm"),
            F.count(F.lit(1)).alias("n"),
        )
        legs.append(per_batch.agg(
            F.lit(b).alias("n_buckets"),
            (
                (F.sum(F.col("mx") * F.col("n")) - F.sum("sm")).cast("double")
                / F.sum(F.col("mx") * F.col("n")).cast("double")
            ).alias("padding_waste"),
        ))
    u = legs[0]
    for leg in legs[1:]:
        u = u.unionByName(leg)
    return u.select(
        F.col("n_buckets").cast("int"),
        F.round(F.col("padding_waste"), 9).cast("double").alias("padding_waste"),
    ).orderBy("n_buckets")


def _pack_length_buckets_sql() -> str:
    legs = []
    for b in BUCKET_LEVELS:
        legs.append(f"""
SELECT {b} AS n_buckets,
       round((sum(mx * n) - sum(sm))::DOUBLE / sum(mx * n)::DOUBLE, 9) AS padding_waste
FROM (
    SELECT bucket, batch, max(len) AS mx, sum(len) AS sm, count(*) AS n
    FROM (
        SELECT bucket,
               (row_number() OVER (PARTITION BY bucket ORDER BY doc_id ASC) - 1)
                   // {BUCKET_BATCH} AS batch,
               len, doc_id
        FROM (
            SELECT doc_id, len,
                   ntile({b}) OVER (ORDER BY len ASC, doc_id ASC) AS bucket
            FROM (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS len FROM documents)
        )
    )
    GROUP BY bucket, batch
)""")
    return "SELECT n_buckets::INTEGER AS n_buckets, padding_waste::DOUBLE AS padding_waste FROM (" \
        + " UNION ALL ".join(legs) + ") ORDER BY n_buckets"


register("pack_length_buckets", pack_length_buckets, _pack_length_buckets_sql())


# --- CCNet perplexity bucketing (head / middle / tail) -----------------------

PPL_BUCKETS = 3
PPL_BUCKET_NAMES = ("head", "middle", "tail")


def mix_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's LM-quality partitioning (Wenzek et al. 2020, §4.4): per
    language, documents split into ``head``/``middle``/``tail`` terciles of
    unigram-LM bits-per-token (head = closest to the LM = cleanest — the
    slice CCNet keeps for pretraining, tail = the filtered remainder).
    Output one row per doc: (doc_id, lang, bits_per_token, ppl_bucket).

    Per-doc bits/token comes VERBATIM from ``textmetrics.text_unigram_ppl``
    (driver-scored bitwise), so this op adds only the bucketing decision.

    Scale shape: the within-language rank is the DISTRIBUTED two-pass —
    range-repartition on (lang, bpt, doc_id), per-(partition, lang)
    row_number (a bounded window: one physical partition, never the
    corpus), per-(partition, lang) counts prefix-summed on the driver
    (metadata rows only) and broadcast back — CCNet's own design computes
    quantile cutoffs from a sample for the same reason; NO unpartitioned
    window ever sees doc rows. The bucket derives from the rank in closed
    form (first n%B buckets take one extra row — the SQL-standard ntile
    rule the DuckDB oracle cross-checks)."""
    from pyspark.sql import Window

    from .textmetrics import text_unigram_ppl

    ppl = text_unigram_ppl(spark, sf_dir).select("doc_id", "bits_per_token")
    d = ppl.join(_docs(spark, sf_dir).select("doc_id", "lang"), "doc_id")
    parts = (
        d.repartitionByRange(32, "lang", "bits_per_token", "doc_id")
        .sortWithinPartitions("lang", "bits_per_token", "doc_id")
        .withColumn("pid", F.spark_partition_id())
    )
    # (pid, lang) counts are metadata (≤ partitions × languages rows):
    # per-lang prefix sum over pid order on the driver, broadcast back
    pc = sorted(
        ((int(r["pid"]), r["lang"], int(r["count"])) for r in
         parts.groupBy("pid", "lang").count().collect()),
    )
    offs, lang_acc = [], {}
    lang_n: dict[str, int] = {}
    for pid, lang, cnt in pc:
        offs.append((pid, lang, lang_acc.get(lang, 0)))
        lang_acc[lang] = lang_acc.get(lang, 0) + cnt
        lang_n[lang] = lang_acc[lang]
    offsets = spark.createDataFrame(offs, "pid int, lang string, off long")
    totals = spark.createDataFrame(
        [(lang, n) for lang, n in sorted(lang_n.items())], "lang string, n long"
    )
    wp = Window.partitionBy("pid", "lang").orderBy(
        F.asc("bits_per_token"), F.asc("doc_id")
    )
    ranked = (
        parts.withColumn("prn", F.row_number().over(wp))
        .join(F.broadcast(offsets), ["pid", "lang"])
        .join(F.broadcast(totals), "lang")
        .withColumn("r0", (F.col("prn") + F.col("off") - 1).cast("long"))
    )
    b = F.lit(PPL_BUCKETS)
    size_small = (F.col("n") / b).cast("long")
    n_big = F.col("n") % b
    big_span = n_big * (size_small + 1)
    bucket = F.when(
        F.col("r0") < big_span, (F.col("r0") / (size_small + 1)).cast("long") + 1
    ).otherwise(
        n_big + ((F.col("r0") - big_span) / size_small).cast("long") + 1
    )
    names = F.array(*[F.lit(x) for x in PPL_BUCKET_NAMES])
    return (
        ranked.withColumn("nb", bucket)
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "lang",
            F.col("bits_per_token").cast("float").alias("bits_per_token"),
            F.element_at(names, F.col("nb").cast("int")).alias("ppl_bucket"),
        )
        .orderBy("doc_id")
    )


def _mix_ppl_buckets_sql() -> str:
    from .textmetrics import TEXT_UNIGRAM_PPL_SQL

    return f"""WITH ppl AS ({TEXT_UNIGRAM_PPL_SQL}),
j AS (
    SELECT p.doc_id, d.lang, p.bits_per_token
    FROM ppl p JOIN documents d USING (doc_id)
),
nb AS (
    SELECT doc_id, lang, bits_per_token,
           ntile({PPL_BUCKETS}) OVER (
               PARTITION BY lang ORDER BY bits_per_token ASC, doc_id ASC
           ) AS b
    FROM j
)
SELECT doc_id::BIGINT AS doc_id, lang, bits_per_token::FLOAT AS bits_per_token,
       CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS ppl_bucket
FROM nb ORDER BY doc_id"""


register("mix_ppl_buckets", mix_ppl_buckets, _mix_ppl_buckets_sql())
