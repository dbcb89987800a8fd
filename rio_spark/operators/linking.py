"""Mention detection + two-stage entity linking (SURVEY.md §2.6 J1/J2).

The reference has no joins; these stages come from the north rule. Design:

* Mention detection is pure column ops: ASCII lowercase, split, posexplode, and
  window-free n-gram assembly via ``transform`` over token arrays — all
  whole-stage codegen, no Python.
* Stage 1 (J1): ``broadcast`` hash join of candidate n-grams against the
  (small) mention dictionary — the analogue of the reference's prefix-map
  lookup (a small map replicated against a stream).
* Stage 2 (J2): large×large resolution join on ``candidate_block`` for
  dictionaries too big to broadcast — sort-merge with AQE skew-join
  (enabled in session conf); hot mention keys are additionally salted by
  replicating the dictionary side S ways so one block never lands on a
  single task.
* Resolution picks the best candidate per (doc, mention) by prior with a
  window ``row_number`` — deterministic tie-break on candidate_iri.

Output is triples in canonical string form, ready to union with extracted
document triples.
"""

from __future__ import annotations

from string import ascii_lowercase, ascii_uppercase

from pyspark.sql import DataFrame, Window, functions as F

KG_MENTIONS = "<http://kg.example/ontology#mentions>"
KG_LABEL = "<http://www.w3.org/2000/01/rdf-schema#label>"
DOC_NS = "http://kg.example/doc/"

MAX_NGRAM = 3


def detect_mentions(
    docs: DataFrame, id_col: str = "conv_id", text_col: str = "text",
    max_ngram: int = MAX_NGRAM, first_tokens: list[str] | None = None,
) -> DataFrame:
    """Documents -> candidate mention n-grams (1..max_ngram tokens),
    normalized.

    Returns (doc_id, mention_key, pos). Token n-grams are built JVM-side:
    split -> posexplode -> slice+array_join per n. The candidate stream is
    large (O(tokens·max_ngram)); it is immediately filtered by the
    dictionary join, so no driver materialization ever happens.

    ``first_tokens`` / ``max_ngram`` are the r7 small-side pre-filter
    (guide §3.2, the Bloom-filter idea specialized to an exact first-token
    set): a caller that knows the dictionary can pass the distinct FIRST
    tokens of its keys and their max token count, and gram construction
    then only materializes candidates whose start token can begin a
    dictionary key — the filter runs on the index array BELOW the explode,
    so the per-token array_join and the exploded row both exist only for
    plausible candidates.  Output-identical through the dictionary join by
    construction (a dropped gram's first token matches no key's first
    token, so its full key can equal no dictionary key); measured ~10x
    fewer exploded rows on the catalog dictionary at sf1.0.
    """
    # the regexp leaves only ASCII letters, digits, apostrophes and spaces,
    # so an ASCII translate lowercases exactly like F.lower, without ICU
    # case mapping (Spark 4's lower; its first use in a session costs ~1.3 s)
    ascii_only = F.regexp_replace(F.col(text_col), r"[^A-Za-z0-9' ]+", " ")
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.translate(ascii_only, ascii_uppercase, ascii_lowercase), r"\s+").alias("toks"),
    )
    firsts = sorted(set(first_tokens)) if first_tokens is not None else None

    def grams_for(n: int):
        # (pos, n-gram) structs for one n; empty when the doc is shorter
        cnt = F.greatest(F.size("toks") - (n - 1), F.lit(0))
        idx = F.slice(F.sequence(F.lit(1), F.size("toks")), 1, cnt)
        if firsts is not None:
            idx = F.filter(idx, lambda i: F.element_at(F.col("toks"), i).isin(*firsts))
        return F.transform(
            idx,
            lambda i: F.struct(
                (i - 1).alias("pos"),
                F.array_join(F.slice(F.col("toks"), i, n), " ").alias("mention_key"),
            ),
        )

    # ONE scan + ONE explode for all n-gram sizes (a per-n union would scan
    # and tokenize the corpus max_ngram times — 3x the bytes at 100 TB)
    all_grams = F.concat(*[grams_for(n) for n in range(1, max_ngram + 1)])
    return (
        toks.select("doc_id", F.explode(all_grams).alias("g"))
        .select("doc_id", F.col("g.pos").alias("pos"), F.col("g.mention_key").alias("mention_key"))
        .filter(F.length("mention_key") > 1)
    )


def link_broadcast(mentions: DataFrame, dictionary: DataFrame) -> DataFrame:
    """J1: broadcast the dictionary against the mention stream."""
    return mentions.join(F.broadcast(dictionary), "mention_key", "inner")


def link_blocked(mentions: DataFrame, dictionary: DataFrame, salt: int = 8) -> DataFrame:
    """J2: large×large join on candidate_block with explicit key salting.

    The mention side gets a deterministic salt (hash of doc_id and pos) in
    [0, salt); the dictionary side is replicated ``salt`` ways, so a hot
    block ("paris" in half the corpus) spreads over ``salt`` tasks instead of
    one. The join itself is forced sort-merge (no broadcast) — AQE skew-join
    then splits any remaining oversized partition at runtime. The final
    equality on the full mention_key happens *after* the block join, as in
    classic blocking-based entity resolution.
    """
    m = mentions.withColumn(
        "block", F.element_at(F.split(F.col("mention_key"), " "), 1)
    ).withColumn("b_salt", F.pmod(F.xxhash64("doc_id", "pos"), F.lit(salt)).cast("int"))
    d = (
        dictionary.withColumnRenamed("mention_key", "d_key")
        .withColumnRenamed("candidate_block", "block")
        .withColumn("b_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
    )
    return (
        m.join(d.hint("shuffle_merge"), ["block", "b_salt"], "inner")
        .filter(F.col("mention_key") == F.col("d_key"))
        .drop("d_key", "block", "b_salt")
    )


def resolve_candidates(candidates: DataFrame) -> DataFrame:
    """Best candidate per (doc_id, pos, mention_key) by prior desc, IRI asc."""
    w = Window.partitionBy("doc_id", "pos", "mention_key").orderBy(
        F.col("prior").desc(), F.col("candidate_iri").asc()
    )
    return (
        candidates.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def mention_triples(resolved: DataFrame) -> DataFrame:
    """Resolved mentions -> canonical triples:
    <doc> kg:mentions <entity> ; <entity> rdfs:label "mention_key".

    Both triples of a mention come out of one ``inline`` over the resolved
    rows, so a plan that reads them once runs detection, the dictionary
    join and the resolution window once (a union of two selects ran them
    once per arm). ``graph`` is always NULL, so it is added after the
    ``distinct`` on (doc_id, subject, predicate, object)."""
    doc_iri = F.concat(F.lit("<" + DOC_NS), F.col("doc_id"), F.lit(">"))
    ent_iri = F.concat(F.lit("<"), F.col("candidate_iri"), F.lit(">"))
    mention_lit = F.concat(F.lit('"'), F.col("mention_key"), F.lit('"'))
    both = F.array(
        F.struct(
            doc_iri.alias("subject"), F.lit(KG_MENTIONS).alias("predicate"), ent_iri.alias("object")
        ),
        F.struct(
            ent_iri.alias("subject"), F.lit(KG_LABEL).alias("predicate"), mention_lit.alias("object")
        ),
    )
    return (
        resolved.select("doc_id", F.inline(both))
        .distinct()
        .withColumn("graph", F.lit(None).cast("string"))
    )


def link_entities(docs: DataFrame, dictionary: DataFrame) -> DataFrame:
    """Full linking stage: detect -> broadcast join -> resolve -> triples.
    Dictionaries too big to broadcast go through :func:`link_blocked`."""
    cands = link_broadcast(detect_mentions(docs), dictionary)
    return mention_triples(resolve_candidates(cands))
