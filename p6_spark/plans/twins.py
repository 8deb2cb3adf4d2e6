"""DuckDB twins of the engine operators: every SQL fragment that more than
one registered oracle uses, written once.

Each Spark plan calls an engine operator (``operators/dedup.minhash_signatures``,
``operators/similarity.brute_force_topk``, ...); its oracle replays that
operator in DuckDB SQL. When several oracles replay the same operator, the
SQL lives here, so a change to the operator (band size, token rule, round
bound) is one edit and no oracle can silently certify a stale copy.

Every function takes only data — a source relation, a CTE name or prefix,
a WHERE clause, a bound — and returns CTE text without the leading
``WITH``. A fragment used by one query stays in that query's module.
"""

from __future__ import annotations

from p6_spark.operators.similarity import PQ_DIMS, PQ_SUBSPACES
from p6_spark.operators.text import STOPWORDS

# ---------------------------------------------------------------------------
# Text (operators/text: tokens, md5_int, lang_id; operators/dedup.shingle_overlap)
# ---------------------------------------------------------------------------

SQL_TOKENS = "list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')"
SQL_MD5INT = "('0x' || substr(md5({x}), 1, 8))::bigint"


def _word_list(lang: str) -> str:
    return "[" + ",".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"


# operators/text.lang_id: argmax over the stopword hit counts s_<lang>,
# fixed priority tie-break (en > de > fr > es > zh)
SQL_LANGID_CASE = """
         CASE WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en >= s_zh THEN 'en'
              WHEN s_de > 0 AND s_de >= s_fr AND s_de >= s_es AND s_de >= s_zh THEN 'de'
              WHEN s_fr > 0 AND s_fr >= s_es AND s_fr >= s_zh THEN 'fr'
              WHEN s_es > 0 AND s_es >= s_zh THEN 'es'
              WHEN s_zh > 0 THEN 'zh'
              ELSE 'unknown' END
"""


def sql_langid_scores(tokens: str = "lt") -> str:
    """The five ``s_<lang>`` select items: distinct stopword hits of the
    lower-cased distinct token list ``tokens``."""
    return ",\n".join(
        f"         len(list_intersect({tokens}, {_word_list(lang)})) AS s_{lang}"
        for lang in STOPWORDS
    )


def _sql_langid_pred() -> str:
    lowered = (
        "list_distinct(list_transform(\n"
        f"             {SQL_TOKENS}, y -> lower(y)))"
    )
    scores = ",\n".join(
        f"         len(list_intersect({lowered},\n"
        f"             {_word_list(lang)})) AS s_{lang}"
        for lang in STOPWORDS
    )
    return f"""
scored AS (
  SELECT doc_id, lang AS actual_lang,
{scores}
  FROM documents
),
pred AS (
  SELECT doc_id, actual_lang,{SQL_LANGID_CASE.rstrip()} AS predicted_lang
  FROM scored
)"""


# CTEs scored(doc_id, actual_lang, s_*) and pred(doc_id, actual_lang,
# predicted_lang) over the whole documents table.
SQL_LANGID_PRED = _sql_langid_pred()


# CTEs shingled(doc_id, sh) -> sizes(doc_id, n_sh) -> inter(id_a, id_b,
# n_common) over a CTE base(doc_id, t) of token lists: distinct 3-word
# shingles (operators/dedup.word_shingles, whole text when shorter) and
# the shared-shingle count of every pair (operators/dedup.shingle_overlap).
SQL_SHINGLE_OVERLAP = """shingled AS (
  SELECT doc_id,
         unnest(list_distinct(
           CASE WHEN len(t) >= 3
                THEN list_transform(generate_series(1, len(t) - 2),
                                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                ELSE [array_to_string(t, ' ')] END)) AS sh
  FROM base
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingled GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM shingled a JOIN shingled b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)"""


# ---------------------------------------------------------------------------
# MinHash + LSH banding (operators/dedup.minhash_signatures, band_array,
# lsh_candidate_pairs with band_size=2)
# ---------------------------------------------------------------------------


def sql_minhash_cols(num_hashes: int = 8, sep: str = ",\n         ") -> str:
    """The select items h_i = min over the group's tokens ``tok`` of
    md5_int(i || '_' || tok), i < ``num_hashes``, joined by ``sep``."""
    return sep.join(
        "min(" + SQL_MD5INT.format(x=f"'{i}_' || tok") + f") AS h{i}"
        for i in range(num_hashes)
    )


def sql_minhash_sig(
    where: str | None = "TRUE",
    src: str = "documents",
    prefix: str = "",
    num_hashes: int = 8,
) -> str:
    """CTEs ``{prefix}toks`` and ``{prefix}sig(doc_id, h0..h{n-1})``:
    the MinHash signature of the distinct tokens of the rows of ``src``
    matching ``where`` (all rows when ``where`` is None)."""
    hashes = sql_minhash_cols(num_hashes)
    rows = src if where is None else f"{src} WHERE {where}"
    return f"""
{prefix}toks AS (
  SELECT doc_id, unnest(list_distinct({SQL_TOKENS})) AS tok
  FROM {rows}
),
{prefix}sig AS (
  SELECT doc_id,
         {hashes}
  FROM {prefix}toks GROUP BY doc_id
)"""


def sql_lsh_band_rows(sig: str = "sig", indent: str = "  ", compact: bool = False) -> str:
    """The 4 bands x 2 rows of the h0..h7 columns of ``sig`` as a UNION ALL
    of (doc_id, band_idx, band_val). ``compact`` keeps each UNION ALL on
    its band's line; the SQL is the same."""
    rows = [
        f"SELECT doc_id, 0 AS band_idx, cast(h0 AS varchar) || '_' || cast(h1 AS varchar) AS band_val FROM {sig}"
    ] + [
        f"SELECT doc_id, {b}, cast(h{2 * b} AS varchar) || '_' || cast(h{2 * b + 1} AS varchar) FROM {sig}"
        for b in range(1, 4)
    ]
    sep = f"\n{indent}UNION ALL " if compact else f"\n{indent}UNION ALL\n{indent}"
    return indent + sep.join(rows)


def sql_lsh_bands(sig: str = "sig", name: str = "bands", compact: bool = False) -> str:
    """CTE ``name(doc_id, band_idx, band_val)`` over the signatures ``sig``."""
    return f"{name} AS (\n{sql_lsh_band_rows(sig, compact=compact)}\n)"


def sql_lsh_cap(
    cap: int, bands: str = "bands", small: str = "small_buckets", out: str = "sb"
) -> str:
    """CTEs ``small`` and ``out``: the band rows whose bucket has at most
    ``cap`` members (lsh_candidate_pairs' ``max_bucket``)."""
    return f"""{small} AS MATERIALIZED (
  SELECT band_idx, band_val FROM {bands}
  GROUP BY 1, 2 HAVING count(*) <= {cap}
),
{out} AS MATERIALIZED (
  SELECT b.doc_id, b.band_idx, b.band_val
  FROM {bands} b JOIN {small} USING (band_idx, band_val)
)"""


def sql_lsh_collide(
    name: str,
    select: str = "a.doc_id AS id_a, b.doc_id AS id_b",
    src: str = "sb",
    materialized: bool = False,
) -> str:
    """CTE ``name``: DISTINCT ``select`` over the bucket self-join of the
    band rows ``src`` (a.doc_id < b.doc_id)."""
    m = " MATERIALIZED" if materialized else ""
    return f"""{name} AS{m} (
  SELECT DISTINCT {select}
  FROM {src} a JOIN {src} b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
)"""


def sql_lsh_pairs(
    cap: int | None = 20,
    name: str = "pairs",
    select: str = "a.doc_id AS id_a, b.doc_id AS id_b",
    materialized: bool = False,
    compact: bool = False,
) -> str:
    """CTEs ``bands`` [+ ``small_buckets``/``sb`` when ``cap``] + ``name``:
    the LSH candidate pairs of the signatures in CTE ``sig``."""
    parts = [sql_lsh_bands(compact=compact)]
    if cap is not None:
        parts.append(sql_lsh_cap(cap))
    parts.append(sql_lsh_collide(name, select, "bands" if cap is None else "sb", materialized))
    return ",\n".join(parts)


def sql_lsh_probe_index(batch: str, cap: int) -> str:
    """CTEs ``bands(doc_id, is_batch, band_idx, band_val)`` with is_batch =
    ``batch``, and ``corpus_small``: the corpus-side (NOT is_batch) buckets
    with at most ``cap`` members — the index an incremental batch probes."""
    return f"""bands AS (
  SELECT doc_id, {batch} AS is_batch, band_idx, band_val
  FROM (
{sql_lsh_band_rows(indent="    ")}
  )
),
corpus_small AS MATERIALIZED (
  SELECT band_idx, band_val FROM bands WHERE NOT is_batch
  GROUP BY band_idx, band_val HAVING count(*) <= {cap}
)"""


# ---------------------------------------------------------------------------
# SimHash-62 (operators/dedup.simhash62)
# ---------------------------------------------------------------------------


def _simhash62_votes() -> str:
    votes = ",\n         ".join(
        f"sum(CASE WHEN (h0 >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(31)
    ) + ",\n         " + ",\n         ".join(
        f"sum(CASE WHEN (h1 >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS w{b}"
        for b in range(31)
    )
    return f"""hashed AS (
  SELECT doc_id, {SQL_MD5INT.format(x='tok')} AS h0,
         {SQL_MD5INT.format(x="('s1_' || tok)")} AS h1
  FROM toks
),
votes AS (
  SELECT doc_id,
         {votes}
  FROM hashed GROUP BY doc_id
)"""


# CTEs hashed + votes over a CTE toks(doc_id, tok): bits 0..30 vote on
# md5_int(tok), bits 31..61 on md5_int('s1_' || tok) — see simhash62's
# round-7 versionchanged note (widened from 16 bits).
SQL_SIMHASH62_VOTES = _simhash62_votes()
# the signature expression over votes' columns
SQL_SIMHASH62_BITS = " + ".join(
    f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(31)
) + " + " + " + ".join(
    f"(CASE WHEN w{b} > 0 THEN {1 << (31 + b)} ELSE 0 END)" for b in range(31)
)


# ---------------------------------------------------------------------------
# Connected components (operators/graph.connected_components)
# ---------------------------------------------------------------------------

CC_ORACLE_ROUNDS = 25  # MUST equal operators/graph.connected_components max_iter


def sql_bounded_cc(rounds: int = CC_ORACLE_ROUNDS) -> str:
    """CTE chain ``l0..l{rounds}`` + ``comp(node, component)``: synchronous
    min-label propagation with the SAME round bound as
    operators/graph.connected_components (max_iter=25), over a CTE
    ``edges(u, v)`` that must already be symmetric.

    Why bounded-round instead of the old ``WITH RECURSIVE`` transitive
    closure (VERDICT r8 item 4): the closure materializes (node, label)
    for every label whose origin is REACHABLE — O(sum comp_size^2) rows —
    which is infeasible on the 35,656-node component the skew1.0 Zipf
    panel chains together (1.3e9 rows; the round-7 documented gap). One
    per-round min() aggregation keeps each round LINEAR in |edges|, so
    the full-registry skew1.0 sweep can replay this oracle. Semantics:
    after k synchronous rounds label(v) = min{u : dist(u, v) <= k}, which
    is exactly what the engine's bounded loop computes — both sides now
    produce the identical bounded fixed point even on a component whose
    diameter exceeds the bound (equal to true components whenever the
    diameter fits, i.e. on every certified panel)."""
    parts = [
        "l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS label FROM edges)"
    ]
    for i in range(rounds):
        parts.append(
            f"""l{i + 1} AS MATERIALIZED (
  SELECT n.node, least(n.label, coalesce(m.nmin, n.label)) AS label
  FROM l{i} n LEFT JOIN (
    SELECT e.u, min(l.label) AS nmin
    FROM edges e JOIN l{i} l ON l.node = e.v
    GROUP BY e.u
  ) m ON m.u = n.node
)"""
        )
    parts.append(
        f"comp AS (SELECT node, label AS component FROM l{rounds})"
    )
    return ",\n".join(parts)


# ---------------------------------------------------------------------------
# Embedding search (operators/similarity, operators/ivf)
# ---------------------------------------------------------------------------


def sql_lsh_sig(
    table: int,
    num_planes: int = 8,
    planes_sql: str | None = None,
    min_planes: int = 8,
) -> str:
    """DuckDB twin of operators/similarity.lsh_signature: bit-packed
    random-hyperplane signature with md5-parity ±1 components. DuckDB
    lambda indexes are 1-based, hence (i-1).

    ``planes_sql`` mirrors _signature_sql's runtime-conditional width:
    plane terms at index >= ``min_planes`` short-circuit to 0 when the
    index is at or above the runtime plane count (DuckDB evaluates CASE
    branches lazily on the selection vector, so unused planes cost one
    integer comparison, not a dot product)."""
    parts = []
    for p in range(num_planes):
        sign = (
            f"(CASE WHEN ('0x' || substr(md5('t{table}_plane{p}_' || (i-1)), 1, 8))::bigint"
            " % 2 = 0 THEN 1.0 ELSE -1.0 END)"
        )
        proj = f"list_sum(list_transform(v, (x,i) -> x * {sign}))"
        term = f"(CASE WHEN {proj} > 0 THEN {1 << p} ELSE 0 END)"
        if planes_sql is not None and p >= min_planes:
            term = f"(CASE WHEN {p} < {planes_sql} THEN {term} ELSE 0 END)"
        parts.append(term)
    return "(" + " + ".join(parts) + ")"


def sql_adaptive_cand(
    src: str = "embeddings", num_tables: int = 4, max_bucket: int = 20,
    materialized: bool = False,
) -> str:
    """DuckDB twin of operators/similarity.lsh_candidate_vec_pairs:
    CTEs ``e`` (vec_id, label, v), ``np`` (adaptive plane count from the
    corpus size), signature/bucket/cap stages, ending in ``cand``
    (id_a < id_b, distinct). Plane terms at or above the runtime plane
    count short-circuit to 0 inside the signature expression (bit p
    depends only on hyperplane p), so the bucket id IS the
    adaptive-width signature — same construction as the Spark side, no
    post-hoc mask. Width ceiling is 48 planes (round 7: the old
    16-plane clamp was a recall cliff past ~1.3M vectors).
    ``materialized`` pins the bucket/cand CTEs with MATERIALIZED —
    required when the chain feeds a RECURSIVE consumer, where DuckDB's
    default inlining would re-evaluate the signature stage per closure
    iteration (the q_graph_kcore lesson)."""
    m = "MATERIALIZED " if materialized else ""
    sig_cols = ",\n         ".join(
        f"{sql_lsh_sig(t, 48, planes_sql='planes')} AS s{t}"
        for t in range(num_tables)
    )
    tbls = ", ".join(str(t) for t in range(num_tables))
    ss = ", ".join(f"s{t}" for t in range(num_tables))
    return f"""e AS (SELECT vec_id, label, embedding::double[] AS v FROM {src}),
np AS (SELECT least(48, greatest(8, cast(ceil(log2(count(*))) AS int) - 1)) AS planes
       FROM e),
sigs AS (
  SELECT vec_id,
         {sig_cols}
  FROM e, np
),
b AS (
  SELECT vec_id, tbl, sig AS bkt
  FROM (SELECT vec_id, unnest([{tbls}]) AS tbl, unnest([{ss}]) AS sig FROM sigs)
),
small AS {m}(SELECT tbl, bkt FROM b GROUP BY tbl, bkt HAVING count(*) <= {max_bucket}),
bs AS {m}(SELECT b.* FROM b JOIN small USING (tbl, bkt)),
cand AS {m}(
  SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
  FROM bs a JOIN bs c ON a.tbl = c.tbl AND a.bkt = c.bkt AND a.vec_id < c.vec_id
)"""


# CTE chain e(vec_id, qv) -> ... -> df(vec_id, cid, d) -> af(vec_id, cid): the
# fixed-point IVF build of operators/ivf.ivf_topk_fixed (md5-ordered seeds,
# two trunc-div Lloyd rounds over x1e4 bigints, argmin assignment).
SQL_IVF_MODEL = """e AS (
  SELECT vec_id,
         list_transform(embedding::double[],
                        x -> cast(round(x * 10000, 0) AS bigint)) AS qv
  FROM embeddings
),
seeds AS (
  SELECT cid, qv FROM (
    SELECT qv,
           row_number() OVER (
             ORDER BY ('0x' || substr(md5(cast(vec_id AS varchar)), 1, 8))::bigint,
                      vec_id) - 1 AS cid
    FROM e
  ) WHERE cid < 8
),
el AS (
  SELECT e.vec_id, g.i AS pos, qv[g.i] AS v
  FROM e, generate_series(1, 64) AS g(i)
),
c0 AS (
  SELECT cid, g.i AS pos, qv[g.i] AS m
  FROM seeds, generate_series(1, 64) AS g(i)
),
d1 AS (
  SELECT el.vec_id, c.cid, sum((el.v - c.m) * (el.v - c.m)) AS d
  FROM el JOIN c0 c ON c.pos = el.pos
  GROUP BY el.vec_id, c.cid
),
a1 AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM d1
  ) WHERE rn = 1
),
u1 AS (
  SELECT a1.cid, el.pos, cast(sum(el.v) AS bigint) AS s, count(*) AS n
  FROM a1 JOIN el ON el.vec_id = a1.vec_id
  GROUP BY a1.cid, el.pos
),
c1 AS (
  SELECT c0.cid, c0.pos, coalesce(u1.s // u1.n, c0.m) AS m
  FROM c0 LEFT JOIN u1 ON u1.cid = c0.cid AND u1.pos = c0.pos
),
d2 AS (
  SELECT el.vec_id, c.cid, sum((el.v - c.m) * (el.v - c.m)) AS d
  FROM el JOIN c1 c ON c.pos = el.pos
  GROUP BY el.vec_id, c.cid
),
a2 AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM d2
  ) WHERE rn = 1
),
u2 AS (
  SELECT a2.cid, el.pos, cast(sum(el.v) AS bigint) AS s, count(*) AS n
  FROM a2 JOIN el ON el.vec_id = a2.vec_id
  GROUP BY a2.cid, el.pos
),
c2 AS (
  SELECT c1.cid, c1.pos, coalesce(u2.s // u2.n, c1.m) AS m
  FROM c1 LEFT JOIN u2 ON u2.cid = c1.cid AND u2.pos = c1.pos
),
df AS (
  SELECT el.vec_id, c.cid, sum((el.v - c.m) * (el.v - c.m)) AS d
  FROM el JOIN c2 c ON c.pos = el.pos
  GROUP BY el.vec_id, c.cid
),
af AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM df
  ) WHERE rn = 1
)"""


def sql_ranker_legs(depth: int) -> str:
    """CTEs e, q, dense(qid, match_id, rnk), toks, tsz, qt, inter,
    lex(qid, match_id, rnk): per query doc (id < 3), the dense top-``depth``
    by rounded cosine and the lexical top-``depth`` by exact x1e6
    distinct-token Jaccard over a posting equi-join."""
    return f"""e AS (SELECT vec_id, embedding::double[] AS v FROM embeddings),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 3),
dense AS (
  SELECT qid, match_id, rnk FROM (
    SELECT q.qid, e.vec_id AS match_id,
           row_number() OVER (PARTITION BY q.qid ORDER BY
             round(list_inner_product(qv, v)
                   / (sqrt(list_inner_product(qv, qv))
                      * sqrt(list_inner_product(v, v))), 6) DESC,
             e.vec_id) AS rnk
    FROM q, e WHERE e.vec_id <> q.qid
  ) WHERE rnk <= {depth}
),
toks AS (
  SELECT doc_id, unnest(list_distinct(list_filter(
    string_split_regex(trim(text), '\\s+'), x -> x <> ''))) AS tok
  FROM documents
),
tsz AS (SELECT doc_id, cast(count(*) AS bigint) AS n_tok FROM toks GROUP BY doc_id),
qt AS (SELECT doc_id AS qid, tok FROM toks WHERE doc_id < 3),
inter AS (
  SELECT qt.qid, t.doc_id AS match_id, cast(count(*) AS bigint) AS n_common
  FROM qt JOIN toks t ON t.tok = qt.tok AND t.doc_id <> qt.qid
  GROUP BY 1, 2
),
lex AS (
  SELECT qid, match_id, rnk FROM (
    SELECT i.qid, i.match_id,
           row_number() OVER (PARTITION BY i.qid ORDER BY
             (i.n_common * 1000000)
               // (sa.n_tok + sb.n_tok - i.n_common) DESC,
             i.match_id) AS rnk
    FROM inter i
    JOIN tsz sa ON sa.doc_id = i.qid
    JOIN tsz sb ON sb.doc_id = i.match_id
  ) WHERE rnk <= {depth}
)"""


def sql_cosine_rerank(k: int) -> str:
    """CTEs scored + ranked and the final top-``k`` SELECT over a CTE
    cand(query_id, match_id) and e(vec_id, v): the exact cosine re-rank
    (rounded to 6 decimals, id tiebreak) of operators/similarity's ANN
    searches."""
    return f"""scored AS (
  SELECT query_id, match_id,
         round(list_inner_product(qe.v, ce.v)
               / (sqrt(list_inner_product(qe.v, qe.v)) * sqrt(list_inner_product(ce.v, ce.v))),
               6) AS cos_sim
  FROM cand
  JOIN e qe ON qe.vec_id = query_id
  JOIN e ce ON ce.vec_id = match_id
),
ranked AS (
  SELECT query_id, match_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, match_id) AS rnk
  FROM scored
)
SELECT query_id, match_id, cos_sim, rnk FROM ranked WHERE rnk <= {k}
ORDER BY query_id, rnk
"""


# ---------------------------------------------------------------------------
# Product quantization (operators/similarity.pq_code_array, pq_adc_lut)
# ---------------------------------------------------------------------------


_PQ_SUBS = ", ".join(str(s) for s in range(PQ_SUBSPACES))


def _sql_pq_code(s: int) -> str:
    bits = [
        f"(CASE WHEN round(v[{s * PQ_DIMS + j + 1}] * 1000, 0) > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(PQ_DIMS)
    ]
    return "(" + " + ".join(bits) + ")"


def sql_pq_codes(src: str = "e") -> str:
    """CTE ``codes(vec_id, sub, code)`` over ``src(vec_id, v)``."""
    return f"""codes AS (
  SELECT vec_id, sub, code FROM {src},
    LATERAL (SELECT unnest([{_PQ_SUBS}]) AS sub,
                    unnest([{", ".join(_sql_pq_code(s) for s in range(PQ_SUBSPACES))}]) AS code) c
)"""


def sql_pq_lut(src: str = "e") -> str:
    """CTEs ``q(qid, qi)`` (the query rows vec_id < 3 of ``src``,
    x1000-quantized) and ``lut(qid, sub, code, adc)``."""
    return f"""q AS (
  SELECT vec_id AS qid,
         list_transform(v, x -> cast(round(x * 1000, 0) AS bigint)) AS qi
  FROM {src} WHERE vec_id < 3
),
lut AS (
  SELECT qid, s.sub, cc.code,
         list_sum(list_transform(generate_series(0, {PQ_DIMS - 1}), j ->
           CASE WHEN ((cc.code >> j) % 2) = 1
                THEN qi[s.sub * {PQ_DIMS} + j + 1]
                ELSE -qi[s.sub * {PQ_DIMS} + j + 1] END)) AS adc
  FROM q,
       (SELECT unnest([{_PQ_SUBS}]) AS sub) s,
       (SELECT unnest(generate_series(0, 255)) AS code) cc
)"""


# ---------------------------------------------------------------------------
# Corpus pipeline (pipelines/llm_corpus)
# ---------------------------------------------------------------------------


def sql_corpus_funnel() -> str:
    """CTEs gated -> exact -> p_toks/p_sig -> p_bands/p_small/p_sb ->
    losers: pipelines/llm_corpus.quality_gate, operators/dedup.dedup_exact
    (min doc_id per text) and drop_near_duplicates' capped MinHash-LSH
    losers (the larger id of every colliding pair)."""
    return f"""gated AS (
  SELECT * FROM documents
  WHERE len({SQL_TOKENS}) >= 5
    AND round(length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g'))
              / greatest(length(text), 1), 6) <= 0.3
    AND round(length(regexp_replace(text, '[^0-9]', '', 'g'))
              / greatest(length(text), 1), 6) <= 0.5
),
exact AS (
  SELECT g.* FROM gated g
  JOIN (SELECT text AS k_text, min(doc_id) AS keep_id FROM gated GROUP BY text) k
    ON g.text = k.k_text AND g.doc_id = k.keep_id
),
{sql_minhash_sig(None, src="exact", prefix="p_").lstrip()},
{sql_lsh_bands("p_sig", "p_bands")},
{sql_lsh_cap(20, "p_bands", "p_small", "p_sb")},
{sql_lsh_collide("losers", "b.doc_id", "p_sb")}"""


# CTEs per_src(source, n_docs, total_tokens) -> w(..., weight): per-source
# BPE-ish token totals (operators/text.bpe_ish_token_count) and the
# temperature-damped mixture weight floor(total_tokens^0.7 + 0.5).
SQL_MIXTURE_WEIGHTS = """per_src AS (
  SELECT source,
         cast(count(*) AS bigint) AS n_docs,
         cast(sum(len(regexp_extract_all(text,
              ' ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+'))) AS bigint) AS total_tokens
  FROM documents GROUP BY source
),
w AS (
  SELECT source, n_docs, total_tokens,
         cast(floor(pow(total_tokens::double, 0.7) + 0.5) AS bigint) AS weight
  FROM per_src
)"""


# CTEs per_s(lang, qs, cnt, tok) -> cum(..., cum_cnt, cum_tok, nd,
# tok_total) over scored(lang, qs, n_tok): the per-language cumulative
# ascending walk of percentile_prune_report, on the (lang, score) table.
SQL_LANG_QUALITY_CUM = """per_s AS (
  SELECT lang, qs, cast(count(*) AS bigint) AS cnt,
         cast(sum(n_tok) AS bigint) AS tok
  FROM scored GROUP BY 1, 2
),
cum AS (
  SELECT lang, qs, cnt, tok,
         sum(cnt) OVER (PARTITION BY lang ORDER BY qs
                        ROWS UNBOUNDED PRECEDING) AS cum_cnt,
         sum(tok) OVER (PARTITION BY lang ORDER BY qs
                        ROWS UNBOUNDED PRECEDING) AS cum_tok,
         sum(cnt) OVER (PARTITION BY lang) AS nd,
         sum(tok) OVER (PARTITION BY lang) AS tok_total
  FROM per_s
)"""

# CTE per_seq over assigned(seq_id, straddles) and the docs-per-sequence
# histogram SELECT of pack_sequences (no ORDER BY).
SQL_PACK_HISTOGRAM = """per_seq AS (
  SELECT seq_id, count(*) AS docs_in_seq, sum(straddles) AS n_straddle
  FROM assigned GROUP BY seq_id
)
SELECT cast(docs_in_seq AS bigint) AS docs_in_seq,
       cast(count(*) AS bigint) AS n_seqs,
       cast(sum(n_straddle) AS bigint) AS n_straddlers
FROM per_seq
GROUP BY docs_in_seq"""


# ---------------------------------------------------------------------------
# Evaluation and regression panels
# ---------------------------------------------------------------------------


def sql_cal_binned(bins: int) -> str:
    """CTEs scored(conf_x1e6, y) -> binned(bin, conf_x1e6, y): the
    synthetic lineitem scored panel of plans/eval_r8._cal_binned, cut into
    ``bins`` equal-width confidence bins."""
    return f"""scored AS (
  SELECT least(1000000, greatest(0, cast(l_quantity AS bigint) * 20000))
           AS conf_x1e6,
         CASE WHEN l_extendedprice >= 30000 THEN 1 ELSE 0 END AS y
  FROM lineitem
),
binned AS (
  SELECT least({bins - 1}, conf_x1e6 // {1_000_000 // bins}) AS bin,
         conf_x1e6, y
  FROM scored
)"""


# CTE chain ordered -> matches -> pair_counts(t_a, t_b, n_games, a_wins):
# the pairwise-preference match stream (consecutive same-user events form
# a match between their event types; higher value wins, ties break to the
# lexicographically smaller type). Shared by ml_bt_strength and the
# round-9 ml_winrate_wilson so the two preference reports cannot drift;
# plans/eval_r8._pair_counts is the Spark side.
SQL_MATCH_CTES = """ordered AS (
  SELECT user_id, event_id, event_type, value,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_type,
         lag(value) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_value
  FROM events
),
matches AS (
  SELECT CASE WHEN value > prev_value
                OR (value = prev_value AND event_type < prev_type)
              THEN event_type ELSE prev_type END AS winner,
         CASE WHEN value > prev_value
                OR (value = prev_value AND event_type < prev_type)
              THEN prev_type ELSE event_type END AS loser
  FROM ordered
  WHERE prev_type IS NOT NULL AND prev_type <> event_type
),
pair_counts AS (
  SELECT CASE WHEN winner < loser THEN winner ELSE loser END AS t_a,
         CASE WHEN winner < loser THEN loser ELSE winner END AS t_b,
         count(*) AS n_games,
         cast(sum(CASE WHEN winner < loser THEN 1 ELSE 0 END) AS bigint) AS a_wins
  FROM matches GROUP BY 1, 2
)"""


def sql_ols2_sums(*extra: str) -> str:
    """CTEs pts(x1, x2, y) -> s(n, s1, s2, sy, s11, s12, s22, s1y, s2y,
    *extra): the lineitem points and HUGEINT Gramian sums of the
    two-feature OLS (plans/sketch_mvols._ols2_sums is the Spark side)."""
    more = "".join(f",\n         {e}" for e in extra)
    return f"""pts AS (
  SELECT cast(l_quantity AS bigint) AS x1,
         cast(round(l_discount * 100, 0) AS bigint) AS x2,
         cast(round(l_extendedprice * 100, 0) AS bigint) AS y
  FROM lineitem
),
s AS (
  SELECT count(*)::HUGEINT AS n,
         sum(x1)::HUGEINT AS s1, sum(x2)::HUGEINT AS s2, sum(y)::HUGEINT AS sy,
         sum(x1 * x1)::HUGEINT AS s11, sum(x1 * x2)::HUGEINT AS s12,
         sum(x2 * x2)::HUGEINT AS s22,
         sum(x1 * y)::HUGEINT AS s1y, sum(x2 * y)::HUGEINT AS s2y{more}
  FROM pts
)"""


# ---------------------------------------------------------------------------
# Marketing attribution
# ---------------------------------------------------------------------------

# CTEs purchases(user_id, p_ts, p_id) and touches(user_id, t_ts, t_id,
# channel): the two event streams every attribution model joins.
SQL_PURCHASE_TOUCHES = """purchases AS (
  SELECT user_id, ts AS p_ts, event_id AS p_id
  FROM events WHERE event_type = 'purchase'
),
touches AS (
  SELECT user_id, ts AS t_ts, event_id AS t_id, event_type AS channel
  FROM events WHERE event_type IN ('view', 'click', 'signup')
)"""
