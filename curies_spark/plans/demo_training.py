"""Shared derivations + DuckDB oracle generators for the training-data
operators (dedup / similarity / text analysis).

Same contract as :mod:`curies_spark.plans.demo`: every derived input is
ONE SQL string valid in both Spark SQL and DuckDB; every oracle SQL
generator mirrors the exact algorithm of the corresponding operator in
:mod:`curies_spark.operators` (same hash derivations, same constants),
so the driver's value-hash comparison is byte-exact.
"""

from __future__ import annotations

from ..operators.dedup import _R, BAND_SIZE, N_PERM
from ..operators.similarity import hyperplanes
from ..operators.text import BPE_TOKEN_RE, LANG_MARKERS, PUNCT_CLASS, WS_CLASS_RE2

__all__ = [
    "DEDUP_DOCS_SQL",
    "MEDIA_SQL",
    "NEAR_DUP_DOCS_SQL",
    "TRUNC_DOCS_SQL",
    "oracle_dedup_survivors_sql",
    "oracle_exact_dedup_sql",
    "oracle_near_dup_embeddings_sql",
    "oracle_quality_gate_sql",
    "oracle_minhash_sql",
    "oracle_minhash_pairs_sql",
    "oracle_jaccard_pairs_sql",
    "oracle_lang_quality_sql",
    "oracle_fingerprint_sql",
    "oracle_ann_topk_sql",
    "oracle_ann_lsh_topk_sql",
    "oracle_media_features_sql",
    "oracle_simhash_sql",
    "oracle_simhash_pairs_sql",
]

#: multimodal rows derived from documents — typed metadata; the binary
#: payload is added Spark-side only (metadata queries never touch it)
MEDIA_SQL = (
    "SELECT doc_id AS media_id, "
    "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' "
    "ELSE 'video' END AS kind, "
    "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav' "
    "ELSE 'video/mp4' END AS mime, "
    "CAST(CASE WHEN doc_id % 3 = 0 THEN 64 + (doc_id % 17) * 32 END AS INT) AS width, "
    "CAST(CASE WHEN doc_id % 3 = 0 THEN 64 + (doc_id % 11) * 32 END AS INT) AS height, "
    "CAST(CASE WHEN doc_id % 3 <> 0 THEN 500 + (doc_id % 7) * 800 END AS BIGINT) AS duration_ms "
    "FROM documents"
)

SHINGLE_K = 3

#: documents with manufactured near-duplicates: odd doc_ids get the text
#: of the preceding even doc_id plus one extra token (Jaccard ≈ n/(n+1))
NEAR_DUP_DOCS_SQL = (
    "SELECT a.doc_id AS doc_id, "
    "CASE WHEN a.doc_id % 2 = 0 THEN a.text "
    "ELSE concat(b.text, ' extratoken') END AS text "
    "FROM documents a JOIN documents b ON b.doc_id = a.doc_id - (a.doc_id % 2)"
)

#: truncated documents — truncation manufactures exact-duplicate groups
TRUNC_DOCS_SQL = "SELECT doc_id, substr(text, 1, 30) AS text FROM documents"

#: corpus for the end-to-end dedup pipeline gate: the near-dup corpus
#: plus exact copies of every 5th document (id-shifted) — so the
#: composition exercises exact collapse, banding, verify, clustering
#: AND survivor selection in one run
DEDUP_DOCS_SQL = (
    # inline subqueries (not a WITH) so this string can itself be
    # embedded as a CTE body by the oracle generators
    f"SELECT doc_id, text FROM ({NEAR_DUP_DOCS_SQL}) nd0 "
    "UNION ALL "
    f"SELECT nd1.doc_id + 10000000 AS doc_id, nd1.text FROM "
    f"({NEAR_DUP_DOCS_SQL}) nd1 WHERE nd1.doc_id % 5 = 0"
)


def _tokens(text_sql: str = "text") -> str:
    # WS_CLASS_RE2: the engine's ONE explicit whitespace class (RE2's
    # bare \s is ASCII-only and would diverge from the Spark tokenizers
    # on NBSP/U+2028-style separators)
    return (
        f"list_filter(string_split_regex(lower({text_sql}), "
        f"'{WS_CLASS_RE2}+'), x -> x <> '')"
    )


def _shingle_cte(docs_sql: str, *, k: int = SHINGLE_K) -> str:
    """CTE chain: docs → toks → sh (one row per doc_id, shingle)."""
    return (
        f"WITH docs AS ({docs_sql}), "
        f"tok AS (SELECT doc_id, {_tokens()} AS toks FROM docs), "
        "shl AS (SELECT doc_id, CASE WHEN len(toks) >= "
        f"{k} THEN list_transform(generate_series(1, len(toks) - {k - 1}), "
        f"i -> array_to_string(toks[i:i+{k - 1}], ' ')) "
        "ELSE [array_to_string(toks, ' ')] END AS shingles FROM tok), "
        "sh AS (SELECT doc_id, unnest(shingles) AS shingle FROM shl)"
    )


_SHINGLE_HASH = "(('0x' || substr(sha256(shingle), 1, 12))::BIGINT)"


def oracle_minhash_sql(docs_sql: str = NEAR_DUP_DOCS_SQL) -> str:
    """Per-document MinHash signature, mirroring
    :func:`curies_spark.operators.dedup.minhash_signature`."""
    # xor(): DuckDB's bitwise XOR (its ^ operator is exponentiation)
    aggs = ", ".join(f"min(xor(h, {_R[i]})) AS mh{i}" for i in range(N_PERM))
    return (
        f"{_shingle_cte(docs_sql)}, "
        f"hashed AS (SELECT doc_id, {_SHINGLE_HASH} AS h FROM sh) "
        f"SELECT doc_id, {aggs} FROM hashed GROUP BY doc_id"
    )


def _band_sql_parts(src_table: str) -> "tuple[str, str]":
    """(banded CTE body over ``src_table``, band-equality join cond)."""
    n_bands = N_PERM // BAND_SIZE
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {cols} FROM {src}".format(
            b=b,
            src=src_table,
            cols=", ".join(
                f"mh{b * BAND_SIZE + r} AS v{r}" for r in range(BAND_SIZE)
            ),
        )
        for b in range(n_bands)
    )
    join_cond = " AND ".join(f"l.v{r} = r.v{r}" for r in range(BAND_SIZE))
    return band_selects, join_cond


def _collapsed_pairs_body() -> str:
    """CTE chain (no ``WITH`` prefix; expects a ``sig`` CTE with
    ``doc_id, mh0..mh15`` in scope) ending in ``star(id_a, id_b)`` +
    ``xpair(id_a, id_b)``: the signature-family collapse (min-id canon
    per full signature, one star pair per member) followed by the band
    join over canons only — mirroring
    operators.dedup.collapse_signature_families and band_pairs exactly."""
    sig_cols = ", ".join(f"mh{i}" for i in range(N_PERM))
    sig_eq = " AND ".join(f"s.mh{i} = c.mh{i}" for i in range(N_PERM))
    band_selects, join_cond = _band_sql_parts("reps")
    return (
        f"canon AS (SELECT {sig_cols}, min(doc_id) AS canon_id "
        f"FROM sig GROUP BY {sig_cols}), "
        f"wc AS (SELECT s.doc_id, c.canon_id FROM sig s JOIN canon c ON {sig_eq}), "
        "star AS (SELECT canon_id AS id_a, doc_id AS id_b FROM wc "
        "WHERE doc_id <> canon_id), "
        "reps AS (SELECT s.* FROM sig s JOIN wc ON s.doc_id = wc.doc_id "
        "WHERE wc.doc_id = wc.canon_id), "
        f"banded AS ({band_selects}), "
        "xpair AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b "
        "FROM banded l JOIN banded r ON l.band = r.band AND "
        f"{join_cond} AND l.doc_id < r.doc_id)"
    )


def oracle_minhash_pairs_sql(docs_sql: str = NEAR_DUP_DOCS_SQL) -> str:
    """LSH candidate pairs via band-tuple equality, with the
    signature-family collapse: members of an identical-signature family
    pair to their min-id canon (star), and only canons band-join."""
    return (
        f"WITH sig AS ({oracle_minhash_sql(docs_sql)}), "
        f"{_collapsed_pairs_body()} "
        "SELECT id_a, id_b FROM xpair UNION ALL SELECT id_a, id_b FROM star"
    )




def oracle_dedup_survivors_sql(
    docs_sql: str = DEDUP_DOCS_SQL, *, min_est_jaccard: float = 0.5
) -> str:
    """End-to-end dedup pipeline component map, mirroring
    :func:`curies_spark.plans.dedup_pipeline.dedup_components_frame`
    stage by stage: exact winners (min id per sha256(text)) → MinHash
    signatures → signature-family collapse → band join → signature-
    agreement verify (star pairs carry est = 1.0 and always pass for
    ``min_est_jaccard`` ≤ 1) → recursive transitive closure →
    ``(doc_id, component, survives)`` per winner (unclustered winners
    are their own component; survivor ⇔ doc_id = component)."""
    agree = " + ".join(
        f"(CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END)" for i in range(N_PERM)
    )
    return (
        f"WITH RECURSIVE docs AS ({docs_sql}), "
        "w AS (SELECT min(doc_id) AS doc_id FROM docs GROUP BY sha256(text)), "
        f"sigall AS ({oracle_minhash_sql(docs_sql)}), "
        "sig AS (SELECT s.* FROM sigall s JOIN w USING (doc_id)), "
        f"{_collapsed_pairs_body()}, "
        "xver AS (SELECT p.id_a, p.id_b FROM xpair p "
        "JOIN sig a ON a.doc_id = p.id_a JOIN sig b ON b.doc_id = p.id_b "
        f"WHERE ({agree}) / {float(N_PERM)} >= {min_est_jaccard}), "
        "pairs AS (SELECT id_a, id_b FROM xver "
        "UNION ALL SELECT id_a, id_b FROM star), "
        "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs "
        "UNION SELECT id_b, id_a FROM pairs), "
        "reach AS (SELECT src, dst FROM edges UNION "
        "SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src) , "
        "comp AS (SELECT src AS node, LEAST(src, MIN(dst)) AS component "
        "FROM reach GROUP BY src) "
        "SELECT w.doc_id, coalesce(c.component, w.doc_id) AS component, "
        "(coalesce(c.component, w.doc_id) = w.doc_id) AS survives "
        "FROM w LEFT JOIN comp c ON w.doc_id = c.node"
    )


def oracle_jaccard_pairs_sql(
    docs_sql: str = NEAR_DUP_DOCS_SQL,
    *,
    threshold: float = 0.5,
    max_shingle_df: "int | None" = None,
) -> str:
    """Exact n-gram Jaccard pairs; ``max_shingle_df`` mirrors the
    engine's hot-shingle quadratic guard (shingles in more than that
    many documents are pruned BEFORE sizes and the self-join, exactly
    as in operators.dedup.ngram_jaccard_pairs)."""
    df_cap = (
        "dsh AS (SELECT d.doc_id, d.shingle FROM dshall d JOIN "
        "(SELECT shingle FROM dshall GROUP BY shingle "
        f"HAVING count(*) <= {max_shingle_df}) rare USING (shingle)), "
        if max_shingle_df is not None
        else "dsh AS (SELECT doc_id, shingle FROM dshall), "
    )
    return (
        f"{_shingle_cte(docs_sql)}, "
        "dshall AS (SELECT DISTINCT doc_id, shingle FROM sh), "
        f"{df_cap}"
        "sizes AS (SELECT doc_id, count(*) AS sz FROM dsh GROUP BY doc_id), "
        "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i "
        "FROM dsh a JOIN dsh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id "
        "GROUP BY a.doc_id, b.doc_id) "
        "SELECT id_a, id_b, i / (sa.sz + sb.sz - i) AS jaccard "
        "FROM inter JOIN sizes sa ON sa.doc_id = id_a "
        "JOIN sizes sb ON sb.doc_id = id_b "
        f"WHERE i / (sa.sz + sb.sz - i) >= {threshold}"
    )


def _simhash_ctes(docs_sql: str) -> str:
    """CTE chain ending in ``sig(doc_id, uh UBIGINT, simhash BIGINT)`` —
    the exact SimHash of :func:`curies_spark.operators.dedup.simhash_col`:
    token hash = first 8 bytes of sha256, per-bit majority vote, empty
    docs → 0. ``uh`` keeps the unsigned form for band extraction; the
    signed form reinterprets bit 63 as the sign (two's complement)."""
    return (
        f"WITH docs AS ({docs_sql}), "
        f"tok AS (SELECT doc_id, {_tokens()} AS toks FROM docs), "
        "tk AS (SELECT doc_id, unnest(toks) AS tok FROM tok), "
        "hh AS (SELECT doc_id, ('0x' || substr(sha256(tok), 1, 16))::UBIGINT AS h FROM tk), "
        "bits AS (SELECT doc_id, b, sum(CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE 0 END) AS ones, "
        "count(*) AS n FROM hh CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b) "
        "GROUP BY doc_id, b), "
        "shu AS (SELECT doc_id, "
        "sum(CASE WHEN 2 * ones - n > 0 THEN (1::UBIGINT << b)::HUGEINT ELSE 0 END) AS uh, "
        "sum(CASE WHEN 2 * ones - n > 0 THEN "
        "(CASE WHEN b = 63 THEN -9223372036854775807 - 1 ELSE (1::BIGINT << b) END) "
        "ELSE 0 END) AS sh FROM bits GROUP BY doc_id), "
        "sig AS (SELECT d.doc_id, coalesce(shu.uh, 0)::UBIGINT AS uh, "
        "coalesce(shu.sh, 0)::BIGINT AS simhash FROM docs d LEFT JOIN shu USING (doc_id))"
    )


def oracle_simhash_sql(docs_sql: str = "SELECT doc_id, text FROM documents") -> str:
    """Per-document SimHash signature (signed 64-bit)."""
    return f"{_simhash_ctes(docs_sql)} SELECT doc_id, simhash FROM sig"


def oracle_simhash_pairs_sql(
    docs_sql: str = NEAR_DUP_DOCS_SQL, *, max_hamming: int = 3, n_tables: int = 4
) -> str:
    """SimHash near-dup pairs: 16-bit rotated-band blocking + exact
    hamming verify, with the identical-signature family collapse
    (star pairs to the min-id canon, only canons band-join), mirroring
    :func:`curies_spark.operators.dedup.simhash_candidate_pairs`."""
    band_bits = 64 // n_tables
    mask = (1 << band_bits) - 1
    return (
        f"{_simhash_ctes(docs_sql)}, "
        "canon AS (SELECT uh, min(doc_id) AS canon_id FROM sig GROUP BY uh), "
        "wc AS (SELECT s.doc_id, s.uh, c.canon_id FROM sig s "
        "JOIN canon c ON s.uh = c.uh), "
        "star AS (SELECT canon_id AS id_a, doc_id AS id_b, 0 AS hamming "
        "FROM wc WHERE doc_id <> canon_id), "
        "reps AS (SELECT doc_id, uh FROM wc WHERE doc_id = canon_id), "
        f"banded AS (SELECT doc_id, uh, t AS band, (uh >> (t * {band_bits})) & {mask} AS key "
        f"FROM reps CROSS JOIN (SELECT unnest(generate_series(0, {n_tables - 1})) AS t)), "
        "pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, "
        "bit_count(xor(a.uh, b.uh)) AS hamming "
        "FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key "
        "AND a.doc_id < b.doc_id) "
        f"SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= {max_hamming} "
        "UNION ALL SELECT id_a, id_b, hamming FROM star"
    )


def oracle_media_features_sql(*, dim: int = 8) -> str:
    """Quantized fake-decoder features: the deterministic fake decode is
    ``sha256(payload).digest()[:dim] / 255``, and the Spark-side payload
    is the utf-8 hex of ``sha256(media_id)`` — so byte i of
    ``sha256(sha256(media_id))`` is the feature scaled back by 255."""
    byte_exprs = ", ".join(
        f"CAST(('0x' || substr(d2, {2 * i + 1}, 2))::INT AS VARCHAR)" for i in range(dim)
    )
    return (
        f"WITH m AS ({MEDIA_SQL}), "
        "p AS (SELECT media_id, sha256(sha256(CAST(media_id AS VARCHAR))) AS d2 FROM m) "
        f"SELECT media_id, concat_ws(',', {byte_exprs}) AS feature_q FROM p"
    )


def _marker_list(lang: str) -> str:
    return "[" + ", ".join(f"'{w}'" for w in LANG_MARKERS[lang]) + "]"


def oracle_lang_quality_sql(docs_sql: str = "SELECT doc_id, text FROM documents") -> str:
    """Language-ID + quality features, mirroring operators.text."""
    langs = sorted(LANG_MARKERS)  # priority order on ties
    hits = ", ".join(
        f"len(list_intersect(toks, {_marker_list(lang)})) AS h_{lang}"
        for lang in langs
    )
    best = "greatest(" + ", ".join(f"h_{lang}" for lang in langs) + ")"
    lang_case = "CASE WHEN " + best + " = 0 THEN NULL"
    for i, lang in enumerate(langs):
        rest = langs[i + 1:]
        if rest:
            cond = " AND ".join(f"h_{lang} >= h_{o}" for o in rest)
            lang_case += f" WHEN {cond} THEN '{lang}'"
        else:
            lang_case += f" ELSE '{lang}' END"
    punct = PUNCT_CLASS[1:-1]
    return (
        f"WITH docs AS ({docs_sql}), "
        f"tok AS (SELECT doc_id, text, {_tokens()} AS toks FROM docs), "
        f"scored AS (SELECT doc_id, text, toks, {hits} FROM tok) "
        "SELECT doc_id, "
        f"{lang_case} AS lang, "
        "length(text) AS q_chars, len(toks) AS q_tokens, "
        "length(text) / greatest(len(toks), 1) AS q_mean_token_len, "
        f"length(regexp_replace(text, '[^{punct}]', '', 'g')) / greatest(length(text), 1) AS q_punct_ratio, "
        f"len(list_intersect(toks, {_marker_list('en')})) / greatest(len(toks), 1) AS q_stopword_ratio, "
        "len(list_distinct(toks)) / greatest(len(toks), 1) AS q_distinct_ratio, "
        f"len(regexp_extract_all(text, '{BPE_TOKEN_RE}')) AS q_bpe_tokens "
        "FROM scored"
    )


def oracle_fingerprint_sql(docs_sql: str = NEAR_DUP_DOCS_SQL) -> str:
    return (
        f"{_shingle_cte(docs_sql)}, "
        "fp AS (SELECT doc_id, "
        "sha256(array_to_string(list_sort(list(substr(sha256(shingle), 1, 16))), '')) AS fingerprint "
        "FROM sh GROUP BY doc_id) SELECT doc_id, fingerprint FROM fp"
    )


_DOT_Q = (
    "list_sum(list_transform(generate_series(1, 64), "
    "i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)))"
)
_NORM = (
    "sqrt(list_sum(list_transform(generate_series(1, 64), "
    "i -> CAST({side}.embedding[i] AS DOUBLE) * CAST({side}.embedding[i] AS DOUBLE))))"
)


def oracle_ann_topk_sql(*, k: int = 10) -> str:
    """Exact cosine top-k against the vec_id=0 query vector; cosine is the
    sequential double fold, normalized by both norms (query from data)."""
    ne = _NORM.format(side="e")
    nq = _NORM.format(side="q")
    return (
        "WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0), "
        "scored AS (SELECT e.vec_id, "
        f"{_DOT_Q} / (CASE WHEN {ne} > 0 THEN {ne} ELSE 1 END * "
        f"CASE WHEN {nq} > 0 THEN {nq} ELSE 1 END) AS cosine "
        "FROM embeddings e CROSS JOIN q) "
        "SELECT vec_id, round(cosine, 9) AS cosine, "
        "CAST(row_number() OVER (ORDER BY cosine DESC, vec_id) AS INT) AS rank "
        f"FROM scored ORDER BY cosine DESC, vec_id LIMIT {k}"
    )


def oracle_exact_dedup_sql(docs_sql: str = TRUNC_DOCS_SQL) -> str:
    """Min-id survivor per exact content hash, mirroring
    :func:`curies_spark.operators.dedup.exact_dedup`."""
    return (
        f"WITH docs AS ({docs_sql}) "
        "SELECT min(doc_id) AS doc_id FROM docs GROUP BY sha256(text)"
    )


def oracle_quality_gate_sql(
    docs_sql: str = "SELECT doc_id, text FROM documents",
    *,
    min_tokens: int = 5,
    max_mean_token_len: float = 12.0,
    max_punct_ratio: float = 0.3,
) -> str:
    """Doc ids surviving the Gopher-style rule gate, mirroring
    :func:`curies_spark.operators.text.quality_score_col`."""
    return (
        f"SELECT doc_id FROM ({oracle_lang_quality_sql(docs_sql)}) "
        f"WHERE q_tokens >= {min_tokens} "
        f"AND q_mean_token_len <= {max_mean_token_len} "
        f"AND q_punct_ratio <= {max_punct_ratio}"
    )


def _plane_literal(plane: "list[float]") -> str:
    return "[" + ", ".join(repr(float(x)) for x in plane) + "]"


def _sig_sql(side: str, planes: "list[list[float]]") -> str:
    terms = []
    for i, plane in enumerate(planes):
        dot = (
            "list_sum(list_transform(generate_series(1, 64), "
            f"i -> CAST({side}.embedding[i] AS DOUBLE) * ({_plane_literal(plane)})[i]))"
        )
        terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << i} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def oracle_ann_lsh_topk_sql(*, k: int = 10, n_planes: int = 6, seed: int = 7) -> str:
    """LSH-bucketed ANN: candidates within hamming ≤ 1 of the query's
    hyperplane signature, exact cosine rank inside the candidate set."""
    planes = hyperplanes(64, n_planes, seed=seed)
    ne = _NORM.format(side="e")
    nq = _NORM.format(side="q")
    return (
        "WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0), "
        f"sq AS (SELECT embedding, {_sig_sql('q', planes)} AS sig FROM q), "
        f"se AS (SELECT e.vec_id, e.embedding, {_sig_sql('e', planes)} AS sig FROM embeddings e), "
        "cand AS (SELECT se.vec_id, se.embedding, q.embedding AS qe "
        "FROM se CROSS JOIN sq q WHERE bit_count(xor(se.sig::BIGINT, q.sig::BIGINT)) <= 1), "
        "scored AS (SELECT c.vec_id, "
        "list_sum(list_transform(generate_series(1, 64), "
        "i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.qe[i] AS DOUBLE))) / "
        "(CASE WHEN sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))) > 0 "
        " THEN sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))) ELSE 1 END * "
        " CASE WHEN sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST(c.qe[i] AS DOUBLE) * CAST(c.qe[i] AS DOUBLE)))) > 0 "
        " THEN sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST(c.qe[i] AS DOUBLE) * CAST(c.qe[i] AS DOUBLE)))) ELSE 1 END) AS cosine "
        "FROM cand c) "
        "SELECT vec_id, round(cosine, 9) AS cosine, "
        "CAST(row_number() OVER (ORDER BY cosine DESC, vec_id) AS INT) AS rank "
        f"FROM scored ORDER BY cosine DESC, vec_id LIMIT {k}"
    )


def oracle_near_dup_embeddings_sql(
    *, threshold: float = 0.15, n_planes: int = 8, seed: int = 7
) -> str:
    """Embedding near-duplicate pairs: full-signature LSH bucket join +
    exact cosine verify, mirroring
    :func:`curies_spark.operators.similarity.embedding_near_dup_pairs`."""
    planes = hyperplanes(64, n_planes, seed=seed)
    dot_ab = (
        "list_sum(list_transform(generate_series(1, 64), "
        "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))"
    )

    def norm(side: str) -> str:
        return (
            "sqrt(list_sum(list_transform(generate_series(1, 64), "
            f"i -> CAST({side}.embedding[i] AS DOUBLE) * CAST({side}.embedding[i] AS DOUBLE))))"
        )

    return (
        f"WITH se AS (SELECT vec_id, embedding, {_sig_sql('e', planes)} AS sig "
        "FROM embeddings e), "
        "pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
        f"{dot_ab} / ({norm('a')} * {norm('b')}) AS cosine "
        "FROM se a JOIN se b ON a.sig = b.sig AND a.vec_id < b.vec_id) "
        "SELECT id_a, id_b, round(cosine, 9) AS cosine FROM pairs "
        f"WHERE cosine >= {threshold}"
    )
