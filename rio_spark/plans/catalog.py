"""Query catalog: each query is (spark, sf_dir) -> DataFrame with a matching
DuckDB oracle SQL string (driver correctness gate).

The ``kg_*`` and ``streaming_kg_*``/``streaming_materialize`` queries run the
product path: grammar-kernel extraction in each format, the formatter
round-trips, salted assembly, entity linking, sameAs canonicalization and
connected components, error statistics, the pipeline's per-group body and
its two streaming forms. The ``dedup_*``, ``sim_*`` and ``streaming_dedup``
queries run the document-level dedup and similarity operators (dedup.py,
similarity.py, streaming/stateful.py) over the same ``documents`` table.

Conventions that make the side-by-side hash comparison meaningful:

* deterministic only — no RNG, no time, no partition-order dependence;
* md5 (not xxhash64) wherever a hash feeds the result, because md5 is
  bit-identical across Spark and DuckDB;
* floats are rounded in BOTH engines before comparison;
* every computed column is aliased identically in both;
* KG queries synthesize a transcripts table from ``documents.parquet`` with
  column ops that DuckDB can replicate, then run the REAL pipeline
  (salted assembly -> mapInArrow grammar kernels -> joins) on the Spark
  side while the oracle computes the expected output directly;
* no query leaves a cached relation behind (tests/test_catalog_cache.py).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from rio_spark.operators.assemble import assemble_documents_salted
from rio_spark.operators.canonicalize import connected_components
from rio_spark.operators.dedup import (
    dedup_exact,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_bits,
)
from rio_spark.operators.extract import errors_of, extract_triples, triples_of
from rio_spark.operators.similarity import cosine_pairs_above, lsh_bucket_ids
from rio_spark.formatters import format_ntriples

DOC_NS = "http://ex.org/doc/"
P_NS = "http://ex.org/p/"
XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the test tables are single-row-group parquet files, so the scan is
    # 1 partition no matter what maxPartitionBytes says — every shingle /
    # n-gram explode downstream would run 1-wide on a 32-core box. One
    # cheap round-robin exchange of the small table
    # restores full width; at production scale the scan is already
    # thousands of partitions and the caller would drop this.
    return _widen(spark, spark.read.parquet(f"{sf_dir}/documents.parquet"))


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _widen(spark, spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


def _widen(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Round-robin repartition to the session's core count (see
    _documents). Values and row sets are unaffected — no operator in the
    catalog is partition-layout-sensitive (no spark_partition_id /
    monotonically_increasing_id / rand anywhere in rio_spark)."""
    return df.repartition(spark.sparkContext.defaultParallelism)


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# KG pipeline queries (documents -> synthesized transcripts -> kernels)
# ---------------------------------------------------------------------------

def _nt_lines(with_error: bool = False):
    """Three N-Triples lines per document as column expressions."""
    doc_iri = F.concat(F.lit(f"<{DOC_NS}"), F.col("doc_id").cast("string"), F.lit(">"))
    l_source = F.concat(doc_iri, F.lit(f" <{P_NS}source> \""), F.col("source"), F.lit('" .'))
    l_lang = F.concat(doc_iri, F.lit(f" <{P_NS}lang> \""), F.col("lang"), F.lit('" .'))
    if with_error:
        l_lang = F.when(
            F.col("doc_id") % 7 == 3,
            F.concat(doc_iri, F.lit(f" <{P_NS}bad> <oops .")),  # unterminated IRI
        ).otherwise(l_lang)
    l_chars = F.concat(
        doc_iri,
        F.lit(f" <{P_NS}nchars> \""),
        F.col("n_chars").cast("string"),
        F.lit(f'"^^<{XSD_INT}> .'),
    )
    return [l_source, l_lang, l_chars]


def _nt_transcripts(spark, sf_dir, with_error: bool = False) -> DataFrame:
    """documents -> (conv_id, turn_idx, text): one NT line per turn, emitted
    in REVERSE turn order so assembly provably restores ordering."""
    docs = _documents(spark, sf_dir)
    lines = _nt_lines(with_error)
    return docs.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.posexplode(F.array(*reversed(lines))).alias("rev_idx", "text"),
    ).select(
        "conv_id", (F.lit(len(lines) - 1) - F.col("rev_idx")).alias("turn_idx"), "text"
    )


def q_kg_extract_nt(spark, sf_dir) -> DataFrame:
    """Full path: synthesized turns -> salted assembly -> NT kernel."""
    docs = assemble_documents_salted(_nt_transcripts(spark, sf_dir))
    ext = extract_triples(docs, fmt="nt")
    return triples_of(ext).select("doc_id", "subject", "predicate", "object")


ORACLE_KG_EXTRACT_NT = f"""
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       '<{DOC_NS}' || doc_id || '>' AS subject,
       '<{P_NS}source>' AS predicate,
       '"' || source || '"' AS object
FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR), '<{DOC_NS}' || doc_id || '>', '<{P_NS}lang>',
       '"' || lang || '"'
FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR), '<{DOC_NS}' || doc_id || '>', '<{P_NS}nchars>',
       '"' || n_chars || '"^^<{XSD_INT}>'
FROM documents
"""


def q_kg_extract_turtle(spark, sf_dir) -> DataFrame:
    """Turtle path: prefixes + predicate-object list sugar + typed literal."""
    docs = _documents(spark, sf_dir)
    body = F.concat(
        F.lit(f"@prefix d: <{DOC_NS}> .\n@prefix p: <{P_NS}> .\n"),
        F.lit("d:"), F.col("doc_id").cast("string"),
        F.lit(' p:lang "'), F.col("lang"),
        F.lit('" ; p:nchars '), F.col("n_chars").cast("string"),
        F.lit(" ."),
    )
    d = docs.select(F.col("doc_id").cast("string").alias("conv_id"), body.alias("text"))
    ext = extract_triples(d, fmt="ttl")
    return triples_of(ext).select("doc_id", "subject", "predicate", "object")


ORACLE_KG_EXTRACT_TURTLE = f"""
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       '<{DOC_NS}' || doc_id || '>' AS subject,
       '<{P_NS}lang>' AS predicate,
       '"' || lang || '"' AS object
FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR), '<{DOC_NS}' || doc_id || '>', '<{P_NS}nchars>',
       '"' || n_chars || '"^^<{XSD_INT}>'
FROM documents
"""


def q_kg_extract_rdfxml(spark, sf_dir) -> DataFrame:
    """RDF/XML path (S5): typed literal + property element through the SAX
    state-machine kernel."""
    docs = _documents(spark, sf_dir)
    body = F.concat(
        F.lit('<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"'
              f' xmlns:p="{P_NS}">'),
        F.lit(f'<rdf:Description rdf:about="{DOC_NS}'), F.col("doc_id").cast("string"),
        F.lit('"><p:lang>'), F.col("lang"),
        F.lit(f'</p:lang><p:nchars rdf:datatype="{XSD_INT}">'),
        F.col("n_chars").cast("string"),
        F.lit("</p:nchars></rdf:Description></rdf:RDF>"),
    )
    d = docs.select(F.col("doc_id").cast("string").alias("conv_id"), body.alias("text"))
    ext = extract_triples(d, fmt="rdf")
    return triples_of(ext).select("doc_id", "subject", "predicate", "object")


ORACLE_KG_EXTRACT_RDFXML = ORACLE_KG_EXTRACT_TURTLE  # same expected triples


def q_kg_predicate_counts(spark, sf_dir) -> DataFrame:
    t = q_kg_extract_nt(spark, sf_dir)
    return t.groupBy("predicate").agg(F.count("*").alias("n")).orderBy("predicate")


ORACLE_KG_PREDICATE_COUNTS = f"""
SELECT p AS predicate, (SELECT COUNT(*) FROM documents) AS n
FROM (VALUES ('<{P_NS}source>'), ('<{P_NS}lang>'), ('<{P_NS}nchars>')) t(p)
ORDER BY p
"""


def q_kg_error_recovery(spark, sf_dir) -> DataFrame:
    """Per-line recovery: corrupt docs yield 2 triples + 1 positioned error."""
    docs = assemble_documents_salted(_nt_transcripts(spark, sf_dir, with_error=True))
    ext = extract_triples(docs, fmt="nt")
    # both counts come from one aggregate over the kernel's output, so the
    # kernel runs once without a cache and no join is needed
    is_error = F.col("error_kind").isNotNull()
    return ext.groupBy("doc_id").agg(
        F.count(F.when(~is_error, 1)).alias("n_triples"),
        F.count(F.when(is_error, 1)).alias("n_errors"),
    )


ORACLE_KG_ERROR_RECOVERY = """
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       CAST(CASE WHEN doc_id % 7 = 3 THEN 2 ELSE 3 END AS BIGINT) AS n_triples,
       CAST(CASE WHEN doc_id % 7 = 3 THEN 1 ELSE 0 END AS BIGINT) AS n_errors
FROM documents
"""


def q_kg_assembly(spark, sf_dir) -> DataFrame:
    """Salted two-phase assembly restores (conv_id, turn_idx) order over
    shuffled fixed-width chunks of the document text."""
    docs = _documents(spark, sf_dir)
    chunks = [F.substring("text", 1 + 100 * i, 100) for i in range(3)]
    turns = docs.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.posexplode(F.array(*reversed(chunks))).alias("rev_idx", "text"),
    ).select("conv_id", (F.lit(2) - F.col("rev_idx")).alias("turn_idx"), "text")
    return assemble_documents_salted(turns, chunk=2).select(
        F.col("conv_id").alias("doc_id"), F.col("text").alias("assembled")
    )


ORACLE_KG_ASSEMBLY = """
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       substr(text, 1, 100) || chr(10) || substr(text, 101, 100) || chr(10)
         || substr(text, 201, 100) AS assembled
FROM documents
"""


def q_kg_connected_components(spark, sf_dir) -> DataFrame:
    """Alias-merge style CC over a deterministic star+bridge graph on
    customer keys; component = min node."""
    c = _read(spark, sf_dir, "customer")
    base = (F.col("c_custkey") - F.col("c_custkey") % 10).alias("dst")
    e1 = c.select(F.col("c_custkey").alias("src"), base)
    e2 = (
        c.filter(F.col("c_custkey") % 20 >= 10)
        .select(
            (F.col("c_custkey") - F.col("c_custkey") % 10).alias("src"),
            (F.col("c_custkey") - F.col("c_custkey") % 10 - 10).alias("dst"),
        )
    )
    return connected_components(e1.unionByName(e2)).select("node", "component")


ORACLE_KG_CONNECTED_COMPONENTS = """
WITH e AS (
  SELECT c_custkey AS u, c_custkey - c_custkey % 10 AS v FROM customer
  UNION
  SELECT c_custkey - c_custkey % 10, c_custkey - c_custkey % 10 - 10
  FROM customer WHERE c_custkey % 20 >= 10
), nodes AS (SELECT u AS node FROM e UNION SELECT v FROM e)
SELECT node, node - node % 20 AS component FROM nodes
"""

# entity linking: dictionary phrases drawn from the documents vocabulary
LINK_DICT = [
    # (mention_key, candidate_iri, prior)
    ("table scan", "http://kg.example/op/table_scan", 0.9),
    ("table scan", "http://kg.example/op/table_scan_alt", 0.4),
    ("hash join", "http://kg.example/op/hash_join", 0.9),
    ("sort merge", "http://kg.example/op/sort_merge", 0.8),
    ("window", "http://kg.example/op/window", 0.7),
    ("window", "http://kg.example/op/window_fn", 0.3),
    ("filter", "http://kg.example/op/filter", 0.7),
]


def _link_dictionary(spark) -> DataFrame:
    return spark.createDataFrame(
        LINK_DICT, "mention_key string, candidate_iri string, prior double"
    )


def q_kg_entity_linking(spark, sf_dir) -> DataFrame:
    """The REAL J1 path: mention n-gram detection (pure column ops) ->
    broadcast EQUI-join against the dictionary -> prior-based resolution.
    The plan contains a BroadcastHashJoin on mention_key — never a
    contains-theta-join (that anti-pattern is O(docs x dict))."""
    from rio_spark.operators.linking import (
        detect_mentions,
        link_broadcast,
        resolve_candidates,
    )

    docs = _documents(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("conv_id"), "text"
    )
    # r7: dictionary-derived candidate pruning BELOW the explode (guide
    # §3.2 small-side pre-filter): only grams whose first token can begin a
    # dictionary key are materialized; the broadcast join's output — and so
    # the oracle result — is identical by construction (proof in
    # detect_mentions), the explode just stops manufacturing ~10x rows the
    # join would immediately drop.  Both constants are driver-side Python
    # over the in-repo dictionary list — no extra Spark job.
    mentions = detect_mentions(
        docs,
        max_ngram=max(len(k.split()) for k, _, _ in LINK_DICT),
        first_tokens=[k.split()[0] for k, _, _ in LINK_DICT],
    )
    resolved = resolve_candidates(link_broadcast(mentions, _link_dictionary(spark)))
    return resolved.select(
        "doc_id", "mention_key", F.col("candidate_iri").alias("entity_iri")
    ).distinct()


def q_kg_link_blocked(spark, sf_dir) -> DataFrame:
    """J2: the large-dictionary path — blocked sort-merge join on the
    mention's first token with explicit salting (dictionary replicated S
    ways), full-key equality after the block join. Same linking semantics as
    J1, so the oracle is shared; the PLAN is the thing under test (no
    broadcast, skew-safe)."""
    from rio_spark.operators.linking import (
        detect_mentions,
        link_blocked,
        resolve_candidates,
    )

    docs = _documents(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("conv_id"), "text"
    )
    d = _link_dictionary(spark).withColumn(
        "candidate_block", F.element_at(F.split("mention_key", " "), 1)
    )
    resolved = resolve_candidates(link_blocked(detect_mentions(docs), d))
    return resolved.select(
        "doc_id", "mention_key", F.col("candidate_iri").alias("entity_iri")
    ).distinct()


def _link_dict_values_sql() -> str:
    rows = ", ".join(f"('{k}', '{v}', {p})" for k, v, p in LINK_DICT)
    return f"(VALUES {rows}) d(mention_key, candidate_iri, prior)"


# Detection-equivalence note: detect_mentions emits every 1..3-token n-gram of
# the normalized text (lowercase, non-[a-z0-9' ] runs -> one space, split on
# whitespace); a dictionary key (no leading/trailing space) equals such an
# n-gram iff ' key ' occurs in the space-collapsed padded text, so the oracle
# can use positional containment instead of regenerating the n-gram stream.
ORACLE_KG_ENTITY_LINKING = f"""
WITH best AS (
  SELECT mention_key, candidate_iri FROM (
    SELECT mention_key, candidate_iri,
           row_number() OVER (PARTITION BY mention_key
                              ORDER BY prior DESC, candidate_iri ASC) AS rn
    FROM {_link_dict_values_sql()}
  ) WHERE rn = 1
), docs AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         ' ' || trim(regexp_replace(
                  regexp_replace(lower(text), '[^a-z0-9'' ]+', ' ', 'g'),
                  ' +', ' ', 'g')) || ' ' AS padded
  FROM documents
)
SELECT doc_id, mention_key, candidate_iri AS entity_iri
FROM docs JOIN best ON position(' ' || mention_key || ' ' IN padded) > 0
"""


def q_kg_format_ntriples(spark, sf_dir) -> DataFrame:
    """Formatter sink: canonical triples back to N-Triples lines."""
    t = q_kg_extract_turtle(spark, sf_dir)
    return format_ntriples(t).select("line")


ORACLE_KG_FORMAT_NTRIPLES = f"""
SELECT '<{DOC_NS}' || doc_id || '> <{P_NS}lang> "' || lang || '" .' AS line
FROM documents
UNION ALL
SELECT '<{DOC_NS}' || doc_id || '> <{P_NS}nchars> "' || n_chars
       || '"^^<{XSD_INT}> .'
FROM documents
"""


# ---------------------------------------------------------------------------
# Dedup / similarity (training-data ops)
# ---------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir) -> DataFrame:
    return dedup_exact(
        _documents(spark, sf_dir).select(F.col("doc_id").cast("string").alias("doc_id"), "text")
    )


ORACLE_DEDUP_EXACT = """
WITH k AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS h
  FROM documents
), g AS (
  SELECT h, min(doc_id) AS rep_id, COUNT(*) AS group_size FROM k GROUP BY h
)
SELECT k.doc_id, g.rep_id, g.group_size FROM k JOIN g USING (h)
"""

_SHINGLE3_SQL = """
  CASE WHEN len(toks) >= 3
       THEN list_transform(generate_series(1, len(toks) - 2),
                           i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
       ELSE [array_to_string(toks, ' ')] END
"""

_TOKS_SQL = """
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
  FROM documents
"""


def q_dedup_minhash(spark, sf_dir) -> DataFrame:
    sigs = minhash_signatures(
        _documents(spark, sf_dir).select(F.col("doc_id").cast("string").alias("doc_id"), "text"),
        k=4,
    )
    return sigs.select(
        "doc_id", *[F.col("sig")[i].alias(f"mh{i}") for i in range(4)]
    )


ORACLE_DEDUP_MINHASH = f"""
WITH t AS ({_TOKS_SQL}),
s AS (SELECT doc_id, {_SHINGLE3_SQL} AS sh FROM t)
SELECT doc_id,
  list_min(list_transform(sh, x -> md5('0:' || x))) AS mh0,
  list_min(list_transform(sh, x -> md5('1:' || x))) AS mh1,
  list_min(list_transform(sh, x -> md5('2:' || x))) AS mh2,
  list_min(list_transform(sh, x -> md5('3:' || x))) AS mh3
FROM s
"""


def q_dedup_simhash(spark, sf_dir) -> DataFrame:
    return simhash_bits(
        _documents(spark, sf_dir).select(F.col("doc_id").cast("string").alias("doc_id"), "text"),
        bits=16,
    )


def _oracle_simhash(bits: int = 16) -> str:
    sums = ",\n    ".join(
        f"sum(CASE WHEN ascii(substr(h, {i + 1}, 1)) % 2 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(bits)
    )
    concat = " || ".join(f"CASE WHEN b{i} > 0 THEN '1' ELSE '0' END" for i in range(bits))
    return f"""
WITH t AS ({_TOKS_SQL}),
tok AS (SELECT doc_id, unnest(toks) AS tk FROM t),
h AS (SELECT doc_id, md5(tk) AS h FROM tok),
b AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id)
SELECT doc_id, {concat} AS simhash FROM b
"""


def q_dedup_jaccard(spark, sf_dir) -> DataFrame:
    return ngram_jaccard_pairs(
        _documents(spark, sf_dir).select(F.col("doc_id").cast("string").alias("doc_id"), "text"),
        n=3,
        threshold=0.2,
    )


ORACLE_DEDUP_JACCARD = f"""
WITH t AS ({_TOKS_SQL}),
s AS (SELECT doc_id, list_distinct({_SHINGLE3_SQL}) AS sh FROM t),
ex AS (SELECT doc_id, unnest(sh) AS g FROM s),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM ex GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(i * 1.0 / (sa.sz + sb.sz - i), 6) AS jaccard
FROM inter
JOIN sz sa ON sa.doc_id = doc_a
JOIN sz sb ON sb.doc_id = doc_b
WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.2
"""


def q_sim_topk(spark, sf_dir) -> DataFrame:
    emb = _embeddings(spark, sf_dir)
    q = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    from rio_spark.operators.similarity import cosine_to_query

    return (
        cosine_to_query(emb, q)
        .select("vec_id", F.round("cosine", 4).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(10)
    )


ORACLE_SIM_TOPK = """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       round(list_dot_product(embedding::DOUBLE[], qv)
             / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                * sqrt(list_dot_product(qv, qv))), 4) AS cosine
FROM embeddings, q
ORDER BY cosine DESC, vec_id ASC
LIMIT 10
"""


def q_sim_pairs(spark, sf_dir) -> DataFrame:
    emb = _embeddings(spark, sf_dir).filter("vec_id < 60")
    return cosine_pairs_above(emb, threshold=0.3)


ORACLE_SIM_PAIRS = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 60)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4)
         AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) >= 0.3
"""


def q_sim_lsh_buckets(spark, sf_dir) -> DataFrame:
    emb = _embeddings(spark, sf_dir)
    return (
        lsh_bucket_ids(emb, n_planes=4)
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
    )


ORACLE_SIM_LSH_BUCKETS = """
WITH p AS (
  SELECT list(embedding::DOUBLE[] ORDER BY vec_id) AS planes
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 4)
), b AS (
  SELECT
    (CASE WHEN list_dot_product(e.embedding::DOUBLE[], p.planes[1]) >= 0 THEN '1' ELSE '0' END)
    || (CASE WHEN list_dot_product(e.embedding::DOUBLE[], p.planes[2]) >= 0 THEN '1' ELSE '0' END)
    || (CASE WHEN list_dot_product(e.embedding::DOUBLE[], p.planes[3]) >= 0 THEN '1' ELSE '0' END)
    || (CASE WHEN list_dot_product(e.embedding::DOUBLE[], p.planes[4]) >= 0 THEN '1' ELSE '0' END)
      AS bucket
  FROM embeddings e, p
)
SELECT bucket, COUNT(*) AS n FROM b GROUP BY bucket
"""


# ---------------------------------------------------------------------------
# Round-2 additions: remaining parsers (S2/S4/S6), formatter roundtrips
# (K2-K5), J2 blocked linking, LSH pair paths, streaming replays, CC skew
# stress.
# ---------------------------------------------------------------------------

G_NS = "http://ex.org/g/"
E_NS = "http://kg.example/e/"


def _entity_and_leader():
    """Zero-padded entity IRI + its alias-group leader (doc_id - doc_id % 5)
    as column expressions — shared by the canonicalization queries so the
    namespace/padding can never drift between a query and its oracle."""
    doc_id = F.col("doc_id").cast("string")
    ent = F.concat(F.lit(f"<{E_NS}"), F.lpad(doc_id, 6, "0"), F.lit(">"))
    leader = F.concat(
        F.lit(f"<{E_NS}"),
        F.lpad((F.col("doc_id") - F.col("doc_id") % 5).cast("string"), 6, "0"),
        F.lit(">"),
    )
    return ent, leader


_LEADER_SQL = f"'<{E_NS}' || lpad(CAST(doc_id - doc_id % 5 AS VARCHAR), 6, '0') || '>'"


def q_kg_extract_nquads(spark, sf_dir) -> DataFrame:
    """S2 N-Quads: named-graph line + default-graph typed-literal line."""
    docs = _documents(spark, sf_dir)
    doc_id = F.col("doc_id").cast("string")
    doc_iri = F.concat(F.lit(f"<{DOC_NS}"), doc_id, F.lit(">"))
    g_iri = F.concat(F.lit(f"<{G_NS}"), doc_id, F.lit(">"))
    l1 = F.concat(doc_iri, F.lit(f' <{P_NS}source> "'), F.col("source"),
                  F.lit('" '), g_iri, F.lit(" ."))
    l2 = F.concat(doc_iri, F.lit(f' <{P_NS}nchars> "'),
                  F.col("n_chars").cast("string"), F.lit(f'"^^<{XSD_INT}> .'))
    d = docs.select(doc_id.alias("conv_id"), F.concat_ws("\n", l1, l2).alias("text"))
    ext = extract_triples(d, fmt="nq")
    return triples_of(ext).select("doc_id", "subject", "predicate", "object", "graph")


ORACLE_KG_EXTRACT_NQUADS = f"""
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       '<{DOC_NS}' || doc_id || '>' AS subject,
       '<{P_NS}source>' AS predicate,
       '"' || source || '"' AS object,
       '<{G_NS}' || doc_id || '>' AS graph
FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR), '<{DOC_NS}' || doc_id || '>', '<{P_NS}nchars>',
       '"' || n_chars || '"^^<{XSD_INT}>', CAST(NULL AS VARCHAR)
FROM documents
"""


def _trig_docs(spark, sf_dir) -> DataFrame:
    """TriG documents: one named-graph block (with ';' sugar + bare numeric
    literal) plus a default-graph statement per document."""
    docs = _documents(spark, sf_dir)
    doc_id = F.col("doc_id").cast("string")
    body = F.concat(
        F.lit(f"@prefix d: <{DOC_NS}> .\n@prefix p: <{P_NS}> .\n"),
        F.lit(f"<{G_NS}"), doc_id, F.lit("> { d:"), doc_id,
        F.lit(' p:lang "'), F.col("lang"),
        F.lit('" ; p:nchars '), F.col("n_chars").cast("string"),
        F.lit(" . }\nd:"), doc_id,
        F.lit(' p:source "'), F.col("source"), F.lit('" .'),
    )
    return docs.select(doc_id.alias("conv_id"), body.alias("text"))


def q_kg_extract_trig(spark, sf_dir) -> DataFrame:
    """S4 TriG: graph scoping + Turtle sugar through the TriG kernel
    (reference turtle/src/turtle.rs:165-244 semantics)."""
    ext = extract_triples(_trig_docs(spark, sf_dir), fmt="trig")
    return triples_of(ext).select("doc_id", "subject", "predicate", "object", "graph")


ORACLE_KG_EXTRACT_TRIG = f"""
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       '<{DOC_NS}' || doc_id || '>' AS subject,
       '<{P_NS}lang>' AS predicate,
       '"' || lang || '"' AS object,
       '<{G_NS}' || doc_id || '>' AS graph
FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR), '<{DOC_NS}' || doc_id || '>', '<{P_NS}nchars>',
       '"' || n_chars || '"^^<{XSD_INT}>', '<{G_NS}' || doc_id || '>'
FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR), '<{DOC_NS}' || doc_id || '>', '<{P_NS}source>',
       '"' || source || '"', CAST(NULL AS VARCHAR)
FROM documents
"""


def q_kg_extract_gnq(spark, sf_dir) -> DataFrame:
    """S6 generalized N-Quads: variables and literal subjects in any position
    (reference api/src/generalized.rs:239-268 data model)."""
    docs = _documents(spark, sf_dir)
    doc_id = F.col("doc_id").cast("string")
    l1 = F.concat(F.lit("?s"), doc_id, F.lit(f' <{P_NS}rel> "v'), doc_id,
                  F.lit(f'" <{G_NS}'), doc_id, F.lit("> ."))
    l2 = F.concat(F.lit('"lit'), doc_id, F.lit(f'" <{P_NS}note> ?o'), doc_id,
                  F.lit(" ."))
    d = docs.select(doc_id.alias("conv_id"), F.concat_ws("\n", l1, l2).alias("text"))
    ext = extract_triples(d, fmt="gnq")
    return triples_of(ext).select("doc_id", "subject", "predicate", "object", "graph")


ORACLE_KG_EXTRACT_GNQ = f"""
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       '?s' || doc_id AS subject,
       '<{P_NS}rel>' AS predicate,
       '"v' || doc_id || '"' AS object,
       '<{G_NS}' || doc_id || '>' AS graph
FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR), '"lit' || doc_id || '"', '<{P_NS}note>',
       '?o' || doc_id, CAST(NULL AS VARCHAR)
FROM documents
"""


def q_kg_extract_gtrig(spark, sf_dir) -> DataFrame:
    """S7 generalized TriG: a variable subject in the default graph and a
    variable-labelled graph block (reference turtle/src/gtrig.rs:48-91,
    the non-default `generalized` feature)."""
    docs = _documents(spark, sf_dir)
    doc_id = F.col("doc_id").cast("string")
    body = F.concat(
        F.lit(f"@prefix p: <{P_NS}> .\n?conv"), doc_id,
        F.lit(' p:lang "'), F.col("lang"), F.lit('" .\n?g'), doc_id,
        F.lit(f" {{ <{DOC_NS}"), doc_id, F.lit("> p:nchars "),
        F.col("n_chars").cast("string"), F.lit(" . }"),
    )
    d = docs.select(doc_id.alias("conv_id"), body.alias("text"))
    ext = extract_triples(d, fmt="gtrig")
    return triples_of(ext).select("doc_id", "subject", "predicate", "object", "graph")


ORACLE_KG_EXTRACT_GTRIG = f"""
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       '?conv' || doc_id AS subject,
       '<{P_NS}lang>' AS predicate,
       '"' || lang || '"' AS object,
       CAST(NULL AS VARCHAR) AS graph
FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR), '<{DOC_NS}' || doc_id || '>', '<{P_NS}nchars>',
       '"' || n_chars || '"^^<{XSD_INT}>', '?g' || doc_id
FROM documents
"""


def _reparse(blocks: DataFrame, fmt: str, col: str = "block") -> DataFrame:
    """Formatter-roundtrip helper: each serialized block becomes its own
    document (deterministic md5 doc id) and goes back through the matching
    parser kernel — the roundtrip law parse(format(G)) == G is what the K2-K5
    oracles check (reference turtle/tests/roundtrip.rs)."""
    d = blocks.select(F.md5(F.col(col)).alias("conv_id"), F.col(col).alias("text"))
    return triples_of(extract_triples(d, fmt=fmt))


def q_kg_format_nquads(spark, sf_dir) -> DataFrame:
    """K2 roundtrip: TriG-extracted quads -> N-Quads lines -> reparse."""
    from rio_spark.formatters import format_nquads

    quads = triples_of(extract_triples(_trig_docs(spark, sf_dir), fmt="trig"))
    lines = format_nquads(quads)
    return _reparse(lines, "nq", col="line").select(
        "subject", "predicate", "object", "graph"
    )


def _strip_doc_id(sql: str) -> str:
    """Drop the doc_id output column from an extraction oracle (roundtrips
    lose document identity by design). Asserts the pattern actually matched
    so a reformat of the source oracle fails loudly at import, not as a
    confusing column mismatch at gate time."""
    stripped = sql.replace("CAST(doc_id AS VARCHAR) AS doc_id,", "").replace(
        "CAST(doc_id AS VARCHAR),", ""
    )
    # doc_id legitimately appears in IRI-building expressions; the invariant
    # is that the OUTPUT column is gone (replace matched, no doc_id alias)
    assert stripped != sql and " AS doc_id" not in stripped, (
        "_strip_doc_id: oracle SQL drifted, doc_id output column not removed"
    )
    return stripped


ORACLE_KG_FORMAT_NQUADS = _strip_doc_id(ORACLE_KG_EXTRACT_TRIG)


TTL_PREFIXES = {"d": DOC_NS, "p": P_NS}


def q_kg_format_turtle(spark, sf_dir) -> DataFrame:
    """K3 roundtrip: triples -> qualify (prefix compression) -> grouped Turtle
    blocks -> prefix header + block reparsed by the Turtle kernel."""
    from rio_spark.formatters import format_turtle, qualify_iris, turtle_prefix_header

    t = q_kg_extract_turtle(spark, sf_dir)
    blocks = format_turtle(qualify_iris(t, TTL_PREFIXES))
    header = turtle_prefix_header(TTL_PREFIXES)
    docs = blocks.select(
        F.concat(F.lit(header + "\n"), F.col("block")).alias("block")
    )
    return _reparse(docs, "ttl").select("subject", "predicate", "object")


ORACLE_KG_FORMAT_TURTLE = _strip_doc_id(ORACLE_KG_EXTRACT_TURTLE)


def q_kg_format_trig(spark, sf_dir) -> DataFrame:
    """K4 roundtrip: quads -> graph-grouped TriG blocks -> reparse."""
    from rio_spark.formatters import format_trig

    quads = triples_of(extract_triples(_trig_docs(spark, sf_dir), fmt="trig"))
    return _reparse(format_trig(quads), "trig").select(
        "subject", "predicate", "object", "graph"
    )


ORACLE_KG_FORMAT_TRIG = ORACLE_KG_FORMAT_NQUADS


def q_kg_format_rdfxml(spark, sf_dir) -> DataFrame:
    """K5 roundtrip: triples -> rdf:Description blocks -> envelope-wrapped
    document reparsed by the RDF/XML kernel."""
    from rio_spark.formatters import format_rdfxml

    t = q_kg_extract_turtle(spark, sf_dir)
    docs = format_rdfxml(t).select(
        F.concat(
            F.lit('<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#">'),
            F.col("block"),
            F.lit("</rdf:RDF>"),
        ).alias("block")
    )
    return _reparse(docs, "rdf").select("subject", "predicate", "object")


ORACLE_KG_FORMAT_RDFXML = ORACLE_KG_FORMAT_TURTLE


def q_kg_cc_incremental(spark, sf_dir) -> DataFrame:
    """Incremental CC maintenance (operators/canonicalize.py
    cc_incremental): a full min-label CC run over the entity->leader star
    edges establishes the old labeling, then a batch of bridge edges (each
    doc = 7 mod 10 links to a member of the PREVIOUS alias group) merges
    adjacent groups through the contracted graph only — cost scales with
    the batch, not the old graph. The oracle is the from-scratch recompute
    in closed form (the contracted-min theorem in the docstring makes them
    bit-identical)."""
    from rio_spark.operators.canonicalize import cc_incremental, connected_components

    docs = _documents(spark, sf_dir)
    ent, leader = _entity_and_leader()
    stars = docs.select(ent.alias("src"), leader.alias("dst"))
    labels = connected_components(stars)
    prev_ent = F.concat(
        F.lit(f"<{E_NS}"),
        F.lpad((F.col("doc_id") - 5).cast("string"), 6, "0"),
        F.lit(">"),
    )
    bridges = docs.filter(F.col("doc_id") % 10 == 7).select(
        ent.alias("src"), prev_ent.alias("dst")
    )
    return cc_incremental(labels, bridges)


# closed-form recompute: group g = doc_id - doc_id % 5; groups with
# g % 10 == 5 contain a doc = 7 (mod 10) whose bridge merges them into the
# preceding group, so their component leader steps back 5.  The CASE is
# guarded on the bridge doc (g + 2) actually existing (r4 ADVICE): a corpus
# whose max doc_id has residue 5 or 6 leaves a trailing half-group with no
# residue-7 member, so no bridge edge is ever emitted for it and its leader
# must NOT step back — without the guard the oracle silently assumed corpus
# size is a multiple of 10
ORACLE_KG_CC_INCREMENTAL = f"""
SELECT '<{E_NS}' || lpad(CAST(doc_id AS VARCHAR), 6, '0') || '>' AS node,
       '<{E_NS}' || lpad(CAST(
         CASE WHEN (doc_id - doc_id % 5) % 10 = 5
                   AND doc_id - doc_id % 5 + 2 <= (SELECT max(doc_id) FROM documents)
              THEN doc_id - doc_id % 5 - 5
              ELSE doc_id - doc_id % 5 END AS VARCHAR), 6, '0') || '>'
         AS component
FROM documents
"""


def q_kg_error_stats(spark, sf_dir) -> DataFrame:
    """Corpus error dashboard: positioned error rows aggregated by kind and
    line — the per-shard data-quality report a 100 TB ingest publishes
    alongside its lineage (errors are rows, so this is one hash aggregate
    over the extraction's error branch)."""
    docs = assemble_documents_salted(_nt_transcripts(spark, sf_dir, with_error=True))
    ext = extract_triples(docs, fmt="nt")
    return (
        errors_of(ext)
        .groupBy("error_kind", "error_line")
        .agg(
            F.count("*").alias("n_errors"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


# every doc_id % 7 == 3 carries one unterminated-IRI corruption on its lang
# line, which assembles to line 2 of the document (see _nt_lines)
ORACLE_KG_ERROR_STATS = """
SELECT 'InvalidIriCodePoint' AS error_kind, CAST(2 AS INT) AS error_line,
       count(*) AS n_errors, count(DISTINCT doc_id) AS n_docs
FROM documents WHERE doc_id % 7 = 3
"""


def q_dedup_lsh_pairs(spark, sf_dir) -> DataFrame:
    """MinHash-LSH banding candidates (k=4 minhashes, 2 bands) over documents
    plus injected exact duplicates (every 10th doc), so the band join provably
    fires. The join key is (band_id, band_sig) — the 100 TB shape: candidate
    fan-out bounded by bucket size, never all-pairs."""
    from rio_spark.operators.dedup import minhash_lsh_pairs

    docs = _documents(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    dups = (
        _documents(spark, sf_dir)
        .filter(F.col("doc_id") % 10 == 0)
        .select(F.concat(F.lit("dup"), F.col("doc_id").cast("string")).alias("doc_id"), "text")
    )
    return minhash_lsh_pairs(docs.unionByName(dups), k=4, bands=2)


ORACLE_DEDUP_LSH_PAIRS = f"""
WITH docs0 AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents
  UNION ALL
  SELECT 'dup' || doc_id, text FROM documents WHERE doc_id % 10 = 0
),
t AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
  FROM docs0
),
s AS (SELECT doc_id, {_SHINGLE3_SQL} AS sh FROM t),
m AS (SELECT doc_id,
  list_min(list_transform(sh, x -> md5('0:' || x))) AS mh0,
  list_min(list_transform(sh, x -> md5('1:' || x))) AS mh1,
  list_min(list_transform(sh, x -> md5('2:' || x))) AS mh2,
  list_min(list_transform(sh, x -> md5('3:' || x))) AS mh3
FROM s),
b AS (
  SELECT doc_id, 0 AS band_id, mh0 || '|' || mh1 AS band_sig FROM m
  UNION ALL
  SELECT doc_id, 1, mh2 || '|' || mh3 FROM m
)
SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
FROM b a JOIN b b2
  ON a.band_id = b2.band_id AND a.band_sig = b2.band_sig AND a.doc_id < b2.doc_id
"""


# deliberately boilerplate-like: appended to EVERY document so its shingles
# reach df == corpus size, the exact hot-shingle shape the df cap defuses
_BOILERPLATE = "all rights reserved contact example corp for licensing terms"


def q_dedup_jaccard_skewed(spark, sf_dir) -> DataFrame:
    """Hot-shingle stress for the Jaccard verifier: every document carries
    the same boilerplate suffix, so each boilerplate shingle has df = corpus
    size — an uncapped inverted-index join would emit ~N^2/2 rows for each.
    With max_df the hot shingles are dropped from intersections AND size
    denominators, so the join fan-out stays linear and the scores equal
    exact Jaccard over the informative shingle universe."""
    docs = _documents(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat_ws(" ", F.col("text"), F.lit(_BOILERPLATE)).alias("text"),
    )
    return ngram_jaccard_pairs(docs, n=3, threshold=0.2, max_df=50)


ORACLE_DEDUP_JACCARD_SKEWED = f"""
WITH t AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         string_split(trim(regexp_replace(lower(text || ' {_BOILERPLATE}'),
                                          '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
  FROM documents
),
s AS (SELECT doc_id, list_distinct({_SHINGLE3_SQL}) AS sh FROM t),
ex0 AS (SELECT doc_id, unnest(sh) AS g FROM s),
keep AS (SELECT g FROM ex0 GROUP BY g HAVING COUNT(*) <= 50),
ex AS (SELECT ex0.doc_id, ex0.g FROM ex0 JOIN keep USING (g)),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM ex GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(i * 1.0 / (sa.sz + sb.sz - i), 6) AS jaccard
FROM inter
JOIN sz sa ON sa.doc_id = doc_a
JOIN sz sb ON sb.doc_id = doc_b
WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.2
"""


def q_dedup_lsh_capped(spark, sf_dir) -> DataFrame:
    """Hot-bucket stress for LSH banding: 30 identical copies of doc 0 all
    land in one band bucket (plus doc 0 itself), which a bucket_cap=10
    truncates to its 10 lowest doc_ids; surviving pairs from capped buckets
    carry truncated=true so the recall loss is observable, not silent."""
    from rio_spark.operators.dedup import minhash_lsh_pairs

    docs = _documents(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    hot = (
        _documents(spark, sf_dir)
        .filter(F.col("doc_id") == 0)
        .select(F.explode(F.sequence(F.lit(0), F.lit(29))).alias("i"), "text")
        .select(
            F.concat(F.lit("hot"), F.lpad(F.col("i").cast("string"), 2, "0")).alias("doc_id"),
            "text",
        )
    )
    return minhash_lsh_pairs(docs.unionByName(hot), k=4, bands=2, bucket_cap=10)


ORACLE_DEDUP_LSH_CAPPED = f"""
WITH docs0 AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents
  UNION ALL
  SELECT 'hot' || lpad(CAST(i AS VARCHAR), 2, '0'), text
  FROM documents, generate_series(0, 29) AS gs(i) WHERE doc_id = 0
),
t AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
  FROM docs0
),
s AS (SELECT doc_id, {_SHINGLE3_SQL} AS sh FROM t),
m AS (SELECT doc_id,
  list_min(list_transform(sh, x -> md5('0:' || x))) AS mh0,
  list_min(list_transform(sh, x -> md5('1:' || x))) AS mh1,
  list_min(list_transform(sh, x -> md5('2:' || x))) AS mh2,
  list_min(list_transform(sh, x -> md5('3:' || x))) AS mh3
FROM s),
b AS (
  SELECT doc_id, 0 AS band_id, mh0 || '|' || mh1 AS band_sig FROM m
  UNION ALL
  SELECT doc_id, 1, mh2 || '|' || mh3 FROM m
),
capped AS (
  SELECT doc_id, band_id, band_sig,
         row_number() OVER (PARTITION BY band_id, band_sig ORDER BY doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY band_id, band_sig) > 10 AS trunc
  FROM b
),
k AS (SELECT * FROM capped WHERE rn <= 10)
SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b, bool_and(a.trunc) AS truncated
FROM k a JOIN k b2
  ON a.band_id = b2.band_id AND a.band_sig = b2.band_sig AND a.doc_id < b2.doc_id
GROUP BY 1, 2
"""


_PLANES_SQL = """
  SELECT list(embedding::DOUBLE[] ORDER BY vec_id) AS planes
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 4)
"""

_BUCKET4_SQL = """
    (CASE WHEN list_dot_product(e.embedding::DOUBLE[], p.planes[1]) >= 0 THEN '1' ELSE '0' END)
    || (CASE WHEN list_dot_product(e.embedding::DOUBLE[], p.planes[2]) >= 0 THEN '1' ELSE '0' END)
    || (CASE WHEN list_dot_product(e.embedding::DOUBLE[], p.planes[3]) >= 0 THEN '1' ELSE '0' END)
    || (CASE WHEN list_dot_product(e.embedding::DOUBLE[], p.planes[4]) >= 0 THEN '1' ELSE '0' END)
"""


def q_sim_pairs_lsh(spark, sf_dir) -> DataFrame:
    """The oracle-checked near-duplicate PAIR path at scale: LSH bucket ->
    in-bucket exact cosine -> threshold. The plan's self-join key is the
    bucket string (shuffled equi-join); the cross-bucket pair space is never
    materialized — this is what replaces ``sim_pairs`` (the guarded
    brute-force baseline) at 100 TB."""
    from rio_spark.operators.similarity import cosine_pairs_lsh

    return cosine_pairs_lsh(_embeddings(spark, sf_dir), threshold=0.3, n_planes=4)


ORACLE_SIM_PAIRS_LSH = f"""
WITH p AS ({_PLANES_SQL}),
e2 AS (
  SELECT vec_id, e.embedding::DOUBLE[] AS v, {_BUCKET4_SQL} AS bucket
  FROM embeddings e, p
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4)
         AS cosine
FROM e2 a JOIN e2 b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) >= 0.3
"""


def q_sim_ann_topk(spark, sf_dir) -> DataFrame:
    """ANN top-k (similarity.py ann_topk_lsh): one plane collect, query
    bucket computed driver-side, candidates = plain FILTER on the bucket
    expression (single Spark job, no probe jobs)."""
    from rio_spark.operators.similarity import ann_topk_lsh

    emb = _embeddings(spark, sf_dir)
    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    return ann_topk_lsh(emb, qv, k=5, n_planes=4)


ORACLE_SIM_ANN_TOPK = f"""
WITH p AS ({_PLANES_SQL}),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
qb AS (
  SELECT
    (CASE WHEN list_dot_product(q.qv, p.planes[1]) >= 0 THEN '1' ELSE '0' END)
    || (CASE WHEN list_dot_product(q.qv, p.planes[2]) >= 0 THEN '1' ELSE '0' END)
    || (CASE WHEN list_dot_product(q.qv, p.planes[3]) >= 0 THEN '1' ELSE '0' END)
    || (CASE WHEN list_dot_product(q.qv, p.planes[4]) >= 0 THEN '1' ELSE '0' END) AS qbits
  FROM q, p
),
c AS (
  SELECT vec_id, e.embedding::DOUBLE[] AS v, {_BUCKET4_SQL} AS bucket
  FROM embeddings e, p
)
SELECT vec_id,
       round(list_dot_product(c.v, q.qv)
             / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(q.qv, q.qv))), 4)
         AS cosine
FROM c, q, qb
WHERE c.bucket = qb.qbits
ORDER BY cosine DESC, vec_id ASC
LIMIT 5
"""


from itertools import count as _it_count

_STREAM_SEQ = _it_count()


def _drain_stream(out: DataFrame, mode: str) -> DataFrame:
    """Run a streaming DF to completion against currently-available files
    (availableNow) into a uniquely-named memory sink; return the sink table."""
    name = f"rio_stream_sink_{next(_STREAM_SEQ)}"
    q = (
        out.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return out.sparkSession.table(name)


def q_streaming_dedup(spark, sf_dir) -> DataFrame:
    """Batch-deterministic replay of the stateful streaming dedup
    (applyInPandasWithState): documents stream in with texts collapsed onto 37
    variants, first-seen-wins dedup keeps exactly one row per distinct hash.
    WHICH doc survives depends on arrival order, so the checked output is the
    (deterministic) set of surviving content hashes."""
    from rio_spark.streaming.stateful import streaming_dedup

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    # the file source needs a DIRECTORY basePath; glob-filter to one table
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    docs = stream.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(F.lit("streamdoc "), (F.col("doc_id") % 37).cast("string")).alias("text"),
    )
    return _drain_stream(streaming_dedup(docs), "append").select("h").distinct()


ORACLE_STREAMING_DEDUP = """
SELECT DISTINCT md5('streamdoc ' || (doc_id % 37)) AS h FROM documents
"""


def q_kg_pipeline_e2e(spark, sf_dir) -> DataFrame:
    """The per-group body of run_pipeline as ONE chained oracle-checked plan:
    turn stream -> salted assembly -> NT kernel extraction -> owl:sameAs
    canonicalization (driver-side union-find) -> quad-set dedup (store/MERGE step
    excluded — materialization is pinned by the pipeline CLI + resume tests).
    Entities are zero-padded so the component minimum is the group leader."""
    from rio_spark.operators.canonicalize import canonicalize
    from rio_spark.operators.extract import dedup_triples

    docs = _documents(spark, sf_dir)
    doc_id = F.col("doc_id").cast("string")
    ent, leader = _entity_and_leader()
    l_lang = F.concat(ent, F.lit(f' <{P_NS}lang> "'), F.col("lang"), F.lit('" .'))
    l_same = F.concat(ent, F.lit(" <http://www.w3.org/2002/07/owl#sameAs> "),
                      leader, F.lit(" ."))
    turns = docs.select(
        doc_id.alias("conv_id"),
        F.posexplode(F.array(l_same, l_lang)).alias("rev_idx", "text"),
    ).select("conv_id", (F.lit(1) - F.col("rev_idx")).alias("turn_idx"), "text")
    assembled = assemble_documents_salted(turns)
    # not cached: the kernel runs once for canonical_mapping's collect and
    # once more for the returned plan, on sf0.001's documents. The product's
    # parse-once property is guarded by
    # test_pipeline_reads_each_transcript_row_once_per_group, not here.
    triples = triples_of(extract_triples(assembled, fmt="nt"))
    out = dedup_triples(canonicalize(triples))
    return out.select("subject", "predicate", "object")


ORACLE_KG_PIPELINE_E2E = f"""
-- after alias-merge every entity collapses onto its zero-padded group
-- leader; sameAs rows become self-loops and are dropped; the quad-set dedup
-- collapses same-lang documents within a group
SELECT DISTINCT
       {_LEADER_SQL} AS subject,
       '<{P_NS}lang>' AS predicate,
       '"' || lang || '"' AS object
FROM documents
"""


def q_dedup_near_groups(spark, sf_dir) -> DataFrame:
    """End-to-end near-dup grouping on documents + injected exact dups:
    LSH candidate pairs -> hub-safe connected components -> (doc_id,
    group_id). The composition a 100 TB dedup job actually runs."""
    from rio_spark.operators.dedup import near_dup_groups

    docs = _documents(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    dups = (
        _documents(spark, sf_dir)
        .filter(F.col("doc_id") % 10 == 0)
        .select(F.concat(F.lit("dup"), F.col("doc_id").cast("string")).alias("doc_id"), "text")
    )
    return near_dup_groups(docs.unionByName(dups), k=4, bands=2)


# same pair graph as ORACLE_DEDUP_LSH_PAIRS, closed transitively with a
# recursive CTE (min-label over the reachability set = the CC fixpoint)
ORACLE_DEDUP_NEAR_GROUPS = f"""
WITH RECURSIVE docs0 AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents
  UNION ALL
  SELECT 'dup' || doc_id, text FROM documents WHERE doc_id % 10 = 0
),
t AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
  FROM docs0
),
s AS (SELECT doc_id, {_SHINGLE3_SQL} AS sh FROM t),
m AS (SELECT doc_id,
  list_min(list_transform(sh, x -> md5('0:' || x))) AS mh0,
  list_min(list_transform(sh, x -> md5('1:' || x))) AS mh1,
  list_min(list_transform(sh, x -> md5('2:' || x))) AS mh2,
  list_min(list_transform(sh, x -> md5('3:' || x))) AS mh3
FROM s),
b AS (
  SELECT doc_id, 0 AS band_id, mh0 || '|' || mh1 AS band_sig FROM m
  UNION ALL
  SELECT doc_id, 1, mh2 || '|' || mh3 FROM m
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
  FROM b a JOIN b b2
    ON a.band_id = b2.band_id AND a.band_sig = b2.band_sig AND a.doc_id < b2.doc_id
),
sym AS (SELECT doc_a AS u, doc_b AS v FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
reach AS (
  SELECT u, v FROM sym
  UNION
  SELECT r.u, s2.v FROM reach r JOIN sym s2 ON r.v = s2.u
)
SELECT u AS doc_id, least(u, min(v)) AS group_id FROM reach GROUP BY u
"""


def q_streaming_kg_extract(spark, sf_dir) -> DataFrame:
    """KG extraction as a STREAMING job: the same mapInArrow grammar-kernel
    operator running stateless inside a Structured Streaming query (documents
    stream in, canonical triples stream out, append mode) — the
    ingest-on-arrival form of the batch pipeline. Oracle = the batch
    extraction oracle."""
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    doc_id = F.col("doc_id").cast("string")
    lines = _nt_lines()
    d = stream.select(doc_id.alias("conv_id"),
                      F.concat_ws("\n", *lines).alias("text"))
    ext = triples_of(extract_triples(d, fmt="nt", parallelism=0))
    out = _drain_stream(ext.select("doc_id", "subject", "predicate", "object"),
                        "append")
    return out


ORACLE_STREAMING_KG_EXTRACT = ORACLE_KG_EXTRACT_NT


def q_streaming_materialize(spark, sf_dir) -> DataFrame:
    """Streaming ingest-to-graph e2e (streaming/materialize.py
    stream_merge_to_store): the document stream runs through the extraction
    kernel and MERGEs into a GraphStore inside foreachBatch — one manifest
    snapshot + one lineage row per micro-batch, the batch pipeline's sink
    reused verbatim. The checked output is the final materialized quad set,
    which must equal the batch extraction's distinct triple set (merge
    dedups on the quad key)."""
    import tempfile

    from rio_spark.operators.materialize import GraphStore
    from rio_spark.streaming.materialize import stream_merge_to_store

    tmp = tempfile.mkdtemp(prefix="rio_stream_store_")
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    lines = _nt_lines()
    d = stream.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.concat_ws("\n", *lines).alias("text"),
    )
    ext = triples_of(extract_triples(d, fmt="nt", parallelism=0))
    store = GraphStore(f"{tmp}/store", n_buckets=8)
    q = stream_merge_to_store(
        ext.select(
            "subject", "predicate", "object",
            F.lit(None).cast("string").alias("graph"),
        ),
        store, "snap-stream", f"{tmp}/ckpt",
    )
    q.awaitTermination()
    return store.graph(spark).select("subject", "predicate", "object")


ORACLE_STREAMING_MATERIALIZE = (
    "SELECT DISTINCT subject, predicate, object FROM ("
    + ORACLE_KG_EXTRACT_NT
    + ")"
)


def q_kg_canonicalize(spark, sf_dir) -> DataFrame:
    """Full J3 path: owl:sameAs alias edges collected in one Spark job ->
    driver-side union-find -> canonical mapping (a local frame) -> broadcast
    triple rewrite (degenerate self-loops dropped). Entities are zero-padded
    so the lexicographic component min is the group leader the oracle can
    name."""
    from rio_spark.operators.canonicalize import canonicalize

    docs = _documents(spark, sf_dir)
    doc_id = F.col("doc_id").cast("string")
    ent, leader = _entity_and_leader()
    null_g = F.lit(None).cast("string").alias("graph")
    facts = docs.select(
        doc_id.alias("doc_id"), ent.alias("subject"),
        F.lit(f"<{P_NS}lang>").alias("predicate"),
        F.concat(F.lit('"'), F.col("lang"), F.lit('"')).alias("object"), null_g,
    )
    aliases = docs.select(
        doc_id.alias("doc_id"), ent.alias("subject"),
        F.lit("<http://www.w3.org/2002/07/owl#sameAs>").alias("predicate"),
        leader.alias("object"), null_g,
    )
    out = canonicalize(facts.unionByName(aliases))
    return out.select("doc_id", "subject", "predicate", "object")


ORACLE_KG_CANONICALIZE = f"""
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       {_LEADER_SQL} AS subject,
       '<{P_NS}lang>' AS predicate,
       '"' || lang || '"' AS object
FROM documents
"""


def q_dedup_decontaminate(spark, sf_dir) -> DataFrame:
    """Benchmark decontamination (operators/dedup.py decontaminate): the
    held-out eval set is the doc_id % 97 == 3 slice of the corpus, the
    corpus is everything else PLUS injected leakage — a 70%-prefix copy of
    every benchmark item (must flag: it contains most of the item's
    trigrams) and a 25%-prefix copy (must NOT flag) — so both sides of the
    0.5 containment threshold are exercised, alongside any genuine
    cross-slice near-duplicates the corpus already holds. Benchmark index +
    sizes are broadcast; the corpus side never shuffles before the final
    map-side-combinable (doc, bench) count. floor() before the INT cast in
    the prefix length is load-bearing: Spark's double->int cast truncates,
    DuckDB's rounds."""
    from rio_spark.operators.dedup import decontaminate

    base = _documents(spark, sf_dir)
    bench = base.filter(F.col("doc_id") % 97 == 3).select(
        F.col("doc_id").cast("string").alias("bench_id"), "text"
    )

    def prefix_copy(tag: str, frac: str):
        return bench.select(
            F.concat(F.lit(tag), F.col("bench_id")).alias("doc_id"),
            F.expr(
                f"substring(text, 1, CAST(floor(length(text) * {frac}) AS INT))"
            ).alias("text"),
        )

    corpus = (
        base.filter(F.col("doc_id") % 97 != 3)
        .select(F.col("doc_id").cast("string").alias("doc_id"), "text")
        .unionByName(prefix_copy("c70_", "0.7"))
        .unionByName(prefix_copy("c25_", "0.25"))
    )
    return decontaminate(corpus, bench, n=3, threshold=0.5, max_bench_df=20)


# same containment, inverted-index join written out; the max_bench_df=20
# boilerplate guard drops grams shared by >20 benchmark items from both the
# index and the denominators (none exist at these sf's unless the corpus is
# pathological, but the guard is part of the operator's contract)
ORACLE_DEDUP_DECONTAMINATE = f"""
WITH corpus AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents WHERE doc_id % 97 <> 3
  UNION ALL
  SELECT 'c70_' || doc_id, substr(text, 1, CAST(floor(length(text) * 0.7) AS INT))
  FROM documents WHERE doc_id % 97 = 3
  UNION ALL
  SELECT 'c25_' || doc_id, substr(text, 1, CAST(floor(length(text) * 0.25) AS INT))
  FROM documents WHERE doc_id % 97 = 3
),
t AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
  FROM corpus
),
s AS (SELECT doc_id, list_distinct({_SHINGLE3_SQL}) AS sh FROM t),
cex AS (SELECT doc_id, unnest(sh) AS g FROM s),
bt AS (
  SELECT CAST(doc_id AS VARCHAR) AS bench_id,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
  FROM documents WHERE doc_id % 97 = 3
),
bs AS (SELECT bench_id, list_distinct({_SHINGLE3_SQL}) AS sh FROM bt),
bex0 AS (SELECT bench_id, unnest(sh) AS g FROM bs),
bkeep AS (SELECT g FROM bex0 GROUP BY g HAVING count(*) <= 20),
bex AS (SELECT bench_id, g FROM bex0 JOIN bkeep USING (g)),
bsz AS (SELECT bench_id, count(*) AS bsz FROM bex GROUP BY 1),
inter AS (
  SELECT c.doc_id, b.bench_id, count(*) AS i
  FROM cex c JOIN bex b USING (g)
  GROUP BY 1, 2
)
SELECT doc_id, bench_id, round(i * 1.0 / bsz, 6) AS overlap
FROM inter JOIN bsz USING (bench_id)
WHERE i * 1.0 / bsz >= 0.5
"""


def q_sim_dup_groups(spark, sf_dir) -> DataFrame:
    """Embedding near-dup grouping e2e (similarity.py embedding_dup_groups):
    LSH-bucketed cosine pairs -> hub-safe CC -> (vec_id, group_id) — the
    embedding-space twin of dedup_near_groups, same recursive-CTE closure
    oracle shape."""
    from rio_spark.operators.similarity import embedding_dup_groups

    return embedding_dup_groups(_embeddings(spark, sf_dir), threshold=0.3, n_planes=4)


ORACLE_SIM_DUP_GROUPS = f"""
WITH RECURSIVE p AS ({_PLANES_SQL}),
e2 AS (
  SELECT vec_id, e.embedding::DOUBLE[] AS v, {_BUCKET4_SQL} AS bucket
  FROM embeddings e, p
),
pairs AS (
  SELECT a.vec_id AS u, b.vec_id AS v2
  FROM e2 a JOIN e2 b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE round(list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) >= 0.3
),
sym AS (SELECT u, v2 FROM pairs UNION SELECT v2, u FROM pairs),
reach AS (
  SELECT u, v2 FROM sym
  UNION
  SELECT r.u, s.v2 FROM reach r JOIN sym s ON r.v2 = s.u
)
SELECT u AS vec_id, least(u, min(v2)) AS group_id FROM reach GROUP BY u
"""


# Insertion order matters: the correctness driver checks at most the first
# 50 entries (test_driver_cap_window_covers_unchecked_queries).
QUERIES = {
    "dedup_decontaminate": q_dedup_decontaminate,
    "sim_dup_groups": q_sim_dup_groups,
    "streaming_materialize": q_streaming_materialize,
    "dedup_minhash": q_dedup_minhash,
    "dedup_near_groups": q_dedup_near_groups,
    "streaming_dedup": q_streaming_dedup,
    "streaming_kg_extract": q_streaming_kg_extract,
    "kg_extract_rdfxml": q_kg_extract_rdfxml,
    "kg_extract_nquads": q_kg_extract_nquads,
    "kg_extract_trig": q_kg_extract_trig,
    "kg_extract_gnq": q_kg_extract_gnq,
    "kg_extract_gtrig": q_kg_extract_gtrig,
    "kg_predicate_counts": q_kg_predicate_counts,
    "kg_canonicalize": q_kg_canonicalize,
    "kg_link_blocked": q_kg_link_blocked,
    "dedup_simhash": q_dedup_simhash,
    "dedup_jaccard": q_dedup_jaccard,
    "dedup_jaccard_skewed": q_dedup_jaccard_skewed,
    "dedup_lsh_capped": q_dedup_lsh_capped,
    "kg_cc_incremental": q_kg_cc_incremental,
    "kg_pipeline_e2e": q_kg_pipeline_e2e,
    "kg_entity_linking": q_kg_entity_linking,
    "kg_extract_nt": q_kg_extract_nt,
    "kg_error_recovery": q_kg_error_recovery,
    "kg_extract_turtle": q_kg_extract_turtle,
    "dedup_exact": q_dedup_exact,
    "dedup_lsh_pairs": q_dedup_lsh_pairs,
    "kg_error_stats": q_kg_error_stats,
    "kg_format_ntriples": q_kg_format_ntriples,
    "kg_format_nquads": q_kg_format_nquads,
    "kg_format_turtle": q_kg_format_turtle,
    "kg_format_trig": q_kg_format_trig,
    "kg_format_rdfxml": q_kg_format_rdfxml,
    "sim_topk": q_sim_topk,
    "sim_pairs": q_sim_pairs,
    "sim_pairs_lsh": q_sim_pairs_lsh,
    "sim_ann_topk": q_sim_ann_topk,
    "sim_lsh_buckets": q_sim_lsh_buckets,
    "kg_assembly": q_kg_assembly,
    "kg_connected_components": q_kg_connected_components,
}

ORACLES = {
    "dedup_decontaminate": ORACLE_DEDUP_DECONTAMINATE,
    "sim_dup_groups": ORACLE_SIM_DUP_GROUPS,
    "streaming_materialize": ORACLE_STREAMING_MATERIALIZE,
    "kg_extract_nt": ORACLE_KG_EXTRACT_NT,
    "kg_extract_turtle": ORACLE_KG_EXTRACT_TURTLE,
    "kg_extract_rdfxml": ORACLE_KG_EXTRACT_RDFXML,
    "kg_predicate_counts": ORACLE_KG_PREDICATE_COUNTS,
    "kg_error_recovery": ORACLE_KG_ERROR_RECOVERY,
    "kg_assembly": ORACLE_KG_ASSEMBLY,
    "kg_connected_components": ORACLE_KG_CONNECTED_COMPONENTS,
    "kg_canonicalize": ORACLE_KG_CANONICALIZE,
    "kg_pipeline_e2e": ORACLE_KG_PIPELINE_E2E,
    "kg_entity_linking": ORACLE_KG_ENTITY_LINKING,
    "kg_link_blocked": ORACLE_KG_ENTITY_LINKING,
    "kg_extract_nquads": ORACLE_KG_EXTRACT_NQUADS,
    "kg_extract_trig": ORACLE_KG_EXTRACT_TRIG,
    "kg_extract_gnq": ORACLE_KG_EXTRACT_GNQ,
    "kg_extract_gtrig": ORACLE_KG_EXTRACT_GTRIG,
    "kg_format_ntriples": ORACLE_KG_FORMAT_NTRIPLES,
    "kg_format_nquads": ORACLE_KG_FORMAT_NQUADS,
    "kg_format_turtle": ORACLE_KG_FORMAT_TURTLE,
    "kg_format_trig": ORACLE_KG_FORMAT_TRIG,
    "kg_format_rdfxml": ORACLE_KG_FORMAT_RDFXML,
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "dedup_lsh_pairs": ORACLE_DEDUP_LSH_PAIRS,
    "dedup_minhash": ORACLE_DEDUP_MINHASH,
    "dedup_simhash": _oracle_simhash(16),
    "dedup_jaccard": ORACLE_DEDUP_JACCARD,
    "dedup_jaccard_skewed": ORACLE_DEDUP_JACCARD_SKEWED,
    "dedup_lsh_capped": ORACLE_DEDUP_LSH_CAPPED,
    "dedup_near_groups": ORACLE_DEDUP_NEAR_GROUPS,
    "kg_error_stats": ORACLE_KG_ERROR_STATS,
    "kg_cc_incremental": ORACLE_KG_CC_INCREMENTAL,
    "sim_topk": ORACLE_SIM_TOPK,
    "sim_pairs": ORACLE_SIM_PAIRS,
    "sim_pairs_lsh": ORACLE_SIM_PAIRS_LSH,
    "sim_ann_topk": ORACLE_SIM_ANN_TOPK,
    "sim_lsh_buckets": ORACLE_SIM_LSH_BUCKETS,
    "streaming_dedup": ORACLE_STREAMING_DEDUP,
    "streaming_kg_extract": ORACLE_STREAMING_KG_EXTRACT,
}
