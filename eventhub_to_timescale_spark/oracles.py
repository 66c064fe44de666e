"""DuckDB oracle SQL for the LLM-data-pipeline operators.

Each oracle mirrors its Spark operator's *pinned* semantics 1:1 —
same md5-derived hashes, same shingling, same tie-breaks, same
rounding — built programmatically from the same constants so the two
definitions cannot drift silently.
"""

from __future__ import annotations

import hashlib

from eventhub_to_timescale_spark.operators.dedup import SIMHASH_BITS
from eventhub_to_timescale_spark.operators.text import (
    LANG_MARKERS,
    STOPWORDS,
    _PUNCT_RE,
    _TOKEN_RE,
)
from eventhub_to_timescale_spark.plans.adaptive import MODE_COUNT_THRESHOLD


def _h32(expr: str, seed: str = "") -> str:
    """DuckDB equivalent of functions.scalars.portable_hash32."""
    payload = f"'{seed}' || {expr}" if seed else expr
    return f"CAST(('0x' || substr(md5({payload}), 1, 8)) AS BIGINT)"


# word 3-gram shingles of a space-split text column (distinct), matching
# dedup.word_shingles (sequence(1, greatest(size-2,1)), slice(w,i,3))
_WORD_SHINGLES = (
    "list_distinct(list_transform("
    "range(1, greatest(len(w) - 2, 1) + 1), "
    "i -> array_to_string(w[i:i+2], ' ')))"
)


def _word_shingles_sql(n: int, distinct: bool = True) -> str:
    """Parametric rendering of the same word n-gram construction
    (mirrors dedup.word_shingles / curation.repetition_stats over a
    ``w`` token-list column)."""
    inner = (
        f"list_transform(range(1, greatest(len(w) - {n - 1}, 1) + 1), "
        f"i -> array_to_string(w[i:i+{n - 1}], ' '))"
    )
    return f"list_distinct({inner})" if distinct else inner


def dedup_exact_oracle() -> str:
    return """
SELECT md5(text) AS text_hash, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
FROM documents GROUP BY 1 ORDER BY 1
"""


def dedup_minhash_oracle(
    num_hashes: int = 12,
    bands: int = 6,
    threshold: float = 0.5,
    table: str = "documents",
    text_expr: str = "text",
) -> str:
    rows = num_hashes // bands
    sig_items = ", ".join(
        f"list_min(list_transform(shingles, x -> {_h32('x', f'mh{i}:')}))"
        for i in range(num_hashes)
    )
    # DuckDB lists are 1-indexed; Spark band b uses sig[b*rows + r] (0-idx)
    band_key = " || '_' || ".join(
        f"CAST(sig[b * {rows} + {r + 1}] AS VARCHAR)" for r in range(rows)
    )
    return f"""
WITH sh AS (
  SELECT doc_id, {_WORD_SHINGLES} AS shingles
  FROM (SELECT doc_id, string_split({text_expr}, ' ') AS w FROM {table}
        WHERE {text_expr} IS NOT NULL)
), sig AS (
  SELECT doc_id, shingles, [{sig_items}] AS sig FROM sh
), banded AS (
  SELECT doc_id, shingles, b, {band_key} AS band_key
  FROM sig, range({bands}) t(b)
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
  FROM banded a JOIN banded b2
    ON a.b = b2.b AND a.band_key = b2.band_key AND a.doc_id < b2.doc_id
)
SELECT c.doc_a, c.doc_b,
       ROUND(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
             / len(list_distinct(list_concat(sa.shingles, sb.shingles))), 6)
         AS jaccard
FROM cand c
JOIN sh sa ON sa.doc_id = c.doc_a
JOIN sh sb ON sb.doc_id = c.doc_b
WHERE ROUND(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
            / len(list_distinct(list_concat(sa.shingles, sb.shingles))), 6)
      >= {threshold}
ORDER BY doc_a, doc_b
"""


def dedup_simhash_oracle(max_hamming: int = 3) -> str:
    # 64-bit simhash = two independent 32-bit halves slicing ONE md5
    # per word (hex chars 1-8 → lo, 9-16 → hi), mirroring
    # dedup.simhash64 exactly; banding = 4 × 16-bit blocks (lo →
    # blocks 0-1, hi → blocks 2-3), a 2^18 bucket space.
    h_lo = "CAST(('0x' || substr(md5('sh:' || x), 1, 8)) AS BIGINT)"
    h_hi = "CAST(('0x' || substr(md5('sh:' || x), 9, 8)) AS BIGINT)"
    return f"""
WITH docs AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), sums AS (
  SELECT doc_id, b,
         list_sum(list_transform(w, x ->
           CASE WHEN CAST(floor({h_lo} / pow(2, b)) AS BIGINT) % 2 = 1
                THEN 1 ELSE -1 END)) AS s_lo,
         list_sum(list_transform(w, x ->
           CASE WHEN CAST(floor({h_hi} / pow(2, b)) AS BIGINT) % 2 = 1
                THEN 1 ELSE -1 END)) AS s_hi
  FROM docs, range({SIMHASH_BITS}) t(b)
), sh AS (
  SELECT doc_id,
         SUM(CASE WHEN s_lo > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END)
           AS sh_lo,
         SUM(CASE WHEN s_hi > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END)
           AS sh_hi
  FROM sums GROUP BY doc_id
), blocks AS (
  SELECT doc_id, sh_lo, sh_hi, i,
         CASE WHEN i < 2
              THEN CAST(floor(sh_lo / pow(2, 16 * i)) AS BIGINT) % 65536
              ELSE CAST(floor(sh_hi / pow(2, 16 * (i - 2))) AS BIGINT) % 65536
         END AS block_key
  FROM sh, range(4) t(i)
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
         a.sh_lo AS lo_a, a.sh_hi AS hi_a,
         b2.sh_lo AS lo_b, b2.sh_hi AS hi_b
  FROM blocks a JOIN blocks b2
    ON a.i = b2.i AND a.block_key = b2.block_key AND a.doc_id < b2.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b))
            AS INTEGER) AS hamming
FROM cand
WHERE bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b))
      <= {max_hamming}
ORDER BY doc_a, doc_b
"""


def dedup_ngram_oracle(
    ngram: int = 5, threshold: float = 0.3, max_doc_id: int = 100
) -> str:
    return f"""
WITH g AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(length(text) - {ngram - 1}, 1) + 1),
           i -> text[i:i+{ngram - 1}])) AS grams
  FROM documents WHERE doc_id < {max_doc_id}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       ROUND(len(list_intersect(a.grams, b.grams))::DOUBLE
             / len(list_distinct(list_concat(a.grams, b.grams))), 6) AS jaccard
FROM g a JOIN g b ON a.doc_id < b.doc_id
WHERE ROUND(len(list_intersect(a.grams, b.grams))::DOUBLE
            / len(list_distinct(list_concat(a.grams, b.grams))), 6) >= {threshold}
ORDER BY doc_a, doc_b
"""


_COSINE = (
    "list_dot_product(qv, cv) / "
    "(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))"
)


def sim_topk_oracle(query_max_id: int = 8, k: int = 5) -> str:
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {query_max_id}),
scored AS (
  SELECT query_id, e.vec_id AS neighbor_id, e.v AS cv, qv
  FROM q, e WHERE e.vec_id != query_id
), ranked AS (
  SELECT query_id, neighbor_id, ROUND({_COSINE}, 6) AS cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY ROUND({_COSINE}, 6) DESC, neighbor_id)
           AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked
WHERE rank <= {k} ORDER BY query_id, rank
"""


def _plane_literal(p: int, dim: int) -> str:
    comps = []
    for d in range(dim):
        h = int(hashlib.md5(f"p:{p}:{d}".encode()).hexdigest()[:8], 16)
        comps.append(repr(((h % 2001) - 1000) / 1000.0))
    return "[" + ", ".join(comps) + "]::DOUBLE[]"


def sim_ann_lsh_oracle(
    query_max_id: int = 8,
    k: int = 5,
    num_planes: int = 8,
    dim: int = 64,
    probe_hamming: int = 0,
) -> str:
    from eventhub_to_timescale_spark.operators.similarity import (
        hamming_ball_masks,
    )

    sketch_terms = " + ".join(
        f"CASE WHEN list_dot_product(v, {_plane_literal(p, dim)}) > 0 "
        f"THEN {2 ** p} ELSE 0 END"
        for p in range(num_planes)
    )
    mask_values = ", ".join(
        f"({m})" for m in hamming_ball_masks(num_planes, probe_hamming)
    )
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         CAST({sketch_terms} AS BIGINT) AS sketch
  FROM embeddings
  WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
),
q0 AS (SELECT vec_id AS query_id, v AS qv, sketch AS qsketch0
       FROM e WHERE vec_id < {query_max_id}),
q AS (
  SELECT query_id, qv, xor(qsketch0, mask) AS qsketch
  FROM q0, (VALUES {mask_values}) AS masks(mask)
),
scored AS (
  SELECT query_id, e.vec_id AS neighbor_id, e.v AS cv, qv
  FROM q JOIN e ON e.sketch = qsketch AND e.vec_id != query_id
), ranked AS (
  SELECT query_id, neighbor_id, ROUND({_COSINE}, 6) AS cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY ROUND({_COSINE}, 6) DESC, neighbor_id)
           AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked
WHERE rank <= {k} ORDER BY query_id, rank
"""


def embedding_neardup_oracle(
    threshold: float = 0.3, num_planes: int = 8, dim: int = 64
) -> str:
    """Same hyperplane sketch (bucket) + exact cosine ≥ threshold."""
    sketch_terms = " + ".join(
        f"CASE WHEN list_dot_product(v, {_plane_literal(p, dim)}) > 0 "
        f"THEN {2 ** p} ELSE 0 END"
        for p in range(num_planes)
    )
    cos = (
        "list_dot_product(a.v, b.v) / "
        "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))"
    )
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         CAST({sketch_terms} AS BIGINT) AS sketch
  FROM embeddings
  WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, ROUND({cos}, 6) AS cosine
FROM e a JOIN e b ON a.sketch = b.sketch AND a.vec_id < b.vec_id
WHERE ROUND({cos}, 6) >= {threshold}
ORDER BY vec_a, vec_b
"""


def text_langid_oracle() -> str:
    hit_exprs = {
        lang: (
            "len(list_distinct(list_intersect("
            "string_split(lower(text), ' '), "
            "[" + ", ".join(f"'{m}'" for m in markers) + "])))"
        )
        for lang, markers in LANG_MARKERS.items()
    }
    best = "greatest(" + ", ".join(hit_exprs.values()) + ")"
    whens = " ".join(
        f"WHEN {hit_exprs[lang]} > 0 AND {hit_exprs[lang]} = {best} THEN '{lang}'"
        for lang in sorted(hit_exprs)
    )
    return f"""
SELECT doc_id,
       CASE {whens} ELSE 'und' END AS lang_pred,
       CAST({best} AS INT) AS lang_hits
FROM documents
"""


def text_quality_oracle() -> str:
    stoplist = "[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]"
    return f"""
WITH base AS (
  SELECT doc_id, text,
         length(text) AS n_chars,
         len(string_split(text, ' ')) AS n_words,
         length(text) - length(regexp_replace(text, '{_PUNCT_RE}', '', 'g'))
           AS n_punct,
         len(list_filter(string_split(lower(text), ' '),
                         x -> list_contains({stoplist}, x))) AS n_stop
  FROM documents
)
SELECT doc_id,
       CAST(n_chars AS BIGINT) AS n_chars,
       CAST(n_words AS BIGINT) AS n_words,
       ROUND((n_chars - (n_words - 1)) / n_words, 6) AS avg_word_len,
       ROUND(n_punct / greatest(n_chars, 1), 6) AS punct_ratio,
       ROUND(n_stop / n_words, 6) AS stopword_ratio,
       ROUND(0.4 * least(n_words / 50.0, 1.0)
             + 0.3 * least(n_stop / n_words * 5, 1.0)
             + 0.3 * (1.0 - least(n_punct / greatest(n_chars, 1) * 10, 1.0)), 6) AS quality
FROM base
"""


def _quality_scored_cte() -> str:
    """The shared ``scored`` CTE body: (doc_id, lang, quality) with
    the 6dp-rounded quality formula mirrored from
    operators.text.quality_col."""
    stoplist = "[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]"
    return f"""
  SELECT doc_id, lang,
         ROUND(0.4 * least(len(string_split(text, ' ')) / 50.0, 1.0)
               + 0.3 * least(len(list_filter(string_split(lower(text), ' '),
                                 x -> list_contains({stoplist}, x)))
                             / len(string_split(text, ' ')) * 5, 1.0)
               + 0.3 * (1.0 - least((length(text)
                   - length(regexp_replace(text, '{_PUNCT_RE}', '', 'g')))
                   / greatest(length(text), 1) * 10, 1.0)), 6) AS quality
  FROM documents
"""


def quality_percentile_oracle(keep_frac: float = 0.6) -> str:
    """Per-language top-fraction quality cut, mirroring
    operators.text.filter_quality_percentile: percent_rank over
    (lang, quality DESC, doc_id) on the 6dp-rounded score — rounding
    BEFORE ranking keeps cross-engine ties identical, and the doc_id
    tie-break resolves them deterministically."""
    return f"""
WITH scored AS ({_quality_scored_cte()}), ranked AS (
  SELECT doc_id, lang, quality,
         percent_rank() OVER (PARTITION BY lang
                              ORDER BY quality DESC, doc_id) AS pr
  FROM scored
)
SELECT doc_id, lang, ROUND(quality, 6) AS quality
FROM ranked WHERE pr <= {keep_frac}
ORDER BY lang, doc_id
"""


def quality_sample_threshold_oracle(
    keep_frac: float = 0.6,
    sample_fraction: float = 0.5,
    salt: str = "qthr-v1",
) -> str:
    """Mirror of operators.text.quality_threshold_by_sample: per-lang
    threshold = min quality of the top ``keep_frac`` ranks within the
    md5-membership sample, applied back to the full corpus."""
    from eventhub_to_timescale_spark.operators.sampling import (
        sampling_oracle_predicate,
    )

    member = sampling_oracle_predicate("doc_id", sample_fraction, salt=salt)
    return f"""
WITH scored AS ({_quality_scored_cte()}), samp AS (
  SELECT * FROM scored WHERE {member}
), ranked AS (
  SELECT lang, quality,
         percent_rank() OVER (PARTITION BY lang
                              ORDER BY quality DESC, doc_id) AS pr
  FROM samp
), thr AS (
  SELECT lang, MIN(quality) AS t
  FROM ranked WHERE pr <= {keep_frac} GROUP BY lang
)
SELECT s.doc_id, s.lang, s.quality
FROM scored s JOIN thr ON s.lang = thr.lang
WHERE s.quality >= thr.t
ORDER BY s.lang, s.doc_id
"""


def text_tokens_oracle() -> str:
    return f"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(lower(text), '{_TOKEN_RE}')) AS BIGINT)
         AS n_re_tokens,
       CAST(len(list_distinct(string_split(lower(text), ' '))) AS BIGINT)
         AS n_distinct_tokens
FROM documents
"""


def text_fingerprint_oracle(ngram: int = 8) -> str:
    return f"""
WITH n AS (
  SELECT doc_id, regexp_replace(lower(text), '\\s+', ' ', 'g') AS norm
  FROM documents
)
SELECT doc_id,
       md5(norm) AS fp_md5,
       list_min(list_transform(
         range(1, greatest(length(norm) - {ngram - 1}, 1) + 1),
         i -> {_h32(f'norm[i:i+{ngram - 1}]')})) AS fp_min_gram
FROM n
"""


def clean_corpus_oracle(min_quality: float = 0.5) -> str:
    """Dedup (min doc_id per text) → lang-ID → quality filter, mirroring
    operators.text.clean_corpus."""
    hit_exprs = {
        lang: (
            "len(list_distinct(list_intersect("
            "string_split(lower(text), ' '), "
            "[" + ", ".join(f"'{m}'" for m in markers) + "])))"
        )
        for lang, markers in LANG_MARKERS.items()
    }
    best = "greatest(" + ", ".join(hit_exprs.values()) + ")"
    whens = " ".join(
        f"WHEN {hit_exprs[lang]} > 0 AND {hit_exprs[lang]} = {best} THEN '{lang}'"
        for lang in sorted(hit_exprs)
    )
    stoplist = "[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]"
    return f"""
WITH deduped AS (
  SELECT doc_id, text FROM documents
  QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
), scored AS (
  SELECT doc_id,
         CASE {whens} ELSE 'und' END AS lang_pred,
         ROUND(0.4 * least(len(string_split(text, ' ')) / 50.0, 1.0)
               + 0.3 * least(len(list_filter(string_split(lower(text), ' '),
                                 x -> list_contains({stoplist}, x)))
                             / len(string_split(text, ' ')) * 5, 1.0)
               + 0.3 * (1.0 - least((length(text)
                   - length(regexp_replace(text, '{_PUNCT_RE}', '', 'g')))
                   / greatest(length(text), 1) * 10, 1.0)), 6) AS quality
  FROM deduped
)
SELECT doc_id, lang_pred, quality FROM scored
WHERE quality >= {min_quality} ORDER BY doc_id
"""


def mm_blob_oracle() -> str:
    return """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS sha256
FROM documents
"""


def most_frequent_value_oracle(
    cond: str, subject: str, of: str, start_sql: str, end_sql: str
) -> str:
    """Q4 (operators/timeseries.py:most_frequent_value) as the
    reference's two phases: COUNT(*) of the slice — NULL strings
    included — then span/360 buckets (rounded half-up to whole seconds,
    at least 1) above ``MODE_COUNT_THRESHOLD`` rows, else 60 s; per
    bucket the most frequent string, ties to the smallest, NULL groups
    last. ``start_sql``/``end_sql`` are DuckDB TIMESTAMP expressions."""
    return f"""
WITH sliced AS (
  SELECT timestamp, measurement_string
  FROM {cond} c
  WHERE measurement_subject = '{subject}' AND measurement_of = '{of}'
    AND timestamp BETWEEN {start_sql} AND {end_sql}
), width AS (
  SELECT CASE WHEN COUNT(*) > {MODE_COUNT_THRESHOLD}
              THEN greatest(1, floor((epoch({end_sql}) - epoch({start_sql}))
                                     / 360.0 + 0.5))
              ELSE 60 END AS w
  FROM sliced
), counted AS (
  SELECT make_timestamp(CAST(floor(epoch(timestamp) / w) * w AS BIGINT)
                        * 1000000) AS time,
         measurement_string, COUNT(*) AS cnt
  FROM sliced, width GROUP BY 1, 2
)
SELECT time, measurement_string AS most_common_value
FROM counted
QUALIFY row_number() OVER (PARTITION BY time
  ORDER BY (measurement_string IS NULL) ASC, cnt DESC, measurement_string ASC) = 1
ORDER BY time
"""


# ---------------------------------------------------------------------------
# Q6 plotting downsamplers (LTTB / ASAP) and IVF top-k — the three
# operators whose selection logic is sequential. LTTB replays the exact
# pick sequence with a recursive CTE; ASAP's window search is plain
# (non-recursive) SQL; IVF embeds the deterministic k-means centroids
# (recomputed from the same parquet by the shared ``_lloyd`` core) as
# literals. All three run on 6dp-pre-rounded grid values / rounded
# cosines so cross-engine float-fold noise can't flip a comparison.
# ---------------------------------------------------------------------------


def _q6_grid(cond: str, subject: str, bucket_sql: str, in_range: str) -> str:
    """The shared pre-aggregation grid: one series, 6dp-rounded bucket
    averages — bit-identical to the Spark side's grid (operators/asap.py
    lttb_downsample/asap_smooth round before selection)."""
    return f"""
SELECT {bucket_sql} AS time, ROUND(AVG(measurement_number), 6) AS value
FROM {cond} c
WHERE measurement_subject = '{subject}' AND measurement_of = 'value'
  AND measurement_number IS NOT NULL AND {in_range}
GROUP BY 1 ORDER BY 1
"""


def lttb_oracle(cond: str, subject: str, bucket_sql: str, in_range: str,
                n_out: int) -> str:
    """LTTB (Steinarsson 2013) pick sequence as a DuckDB recursive CTE.

    Mirrors operators/asap.py:lttb_core exactly: bucket edges =
    floor(linspace(1, n-1, n_out-1) + 0.5) (last pinned to n-1, matching
    np.linspace's exact endpoint), per-step argmax of the triangle area
    vs the previous pick and the next bucket's centroid, ties → lowest
    index (np.argmax takes the first maximum). Passthrough when
    n <= n_out or n_out < 3, like the Python core."""
    grid = _q6_grid(cond, subject, bucket_sql, in_range)
    return f"""
WITH RECURSIVE grid AS ({grid}),
g AS (
  SELECT row_number() OVER (ORDER BY time) - 1 AS rn,
         epoch_us(time)::DOUBLE AS t, time, value AS v
  FROM grid
),
p AS (SELECT count(*)::BIGINT AS n FROM g),
edges AS (
  SELECT k,
         CASE WHEN k = {n_out} - 2 THEN n - 1
              ELSE CAST(floor(1.0 + k * ((n - 2.0) / ({n_out}.0 - 2.0)) + 0.5)
                        AS BIGINT) END AS e
  FROM p, range({n_out} - 1) r(k)
),
buckets AS (
  SELECT e1.k AS i, e1.e AS lo, e2.e AS hi,
         e2.e AS nlo, COALESCE(e3.e, p.n) AS nhi
  FROM p, edges e1
  JOIN edges e2 ON e2.k = e1.k + 1
  LEFT JOIN edges e3 ON e3.k = e1.k + 2
  WHERE e1.k <= {n_out} - 3
),
cents AS (
  SELECT b.i, b.lo, b.hi, AVG(g.t) AS cx, AVG(g.v) AS cy
  FROM buckets b JOIN g ON g.rn >= b.nlo AND g.rn < b.nhi
  GROUP BY b.i, b.lo, b.hi
),
sel AS (
  SELECT -1 AS i, CAST(0 AS BIGINT) AS a
  UNION ALL
  SELECT c.i,
    (SELECT g2.rn FROM g g2
      WHERE g2.rn >= c.lo AND g2.rn < c.hi
      ORDER BY abs((ga.t - c.cx) * (g2.v - ga.v)
                   - (ga.t - g2.t) * (c.cy - ga.v)) DESC, g2.rn ASC
      LIMIT 1) AS a
  FROM sel s
  JOIN cents c ON c.i = s.i + 1
  JOIN g ga ON ga.rn = s.a
)
SELECT time, v AS value FROM g, p
WHERE p.n <= {n_out} OR {n_out} < 3
   OR rn IN (SELECT a FROM sel UNION ALL SELECT n - 1 FROM p)
ORDER BY time
"""


def asap_oracle(cond: str, subject: str, bucket_sql: str, in_range: str,
                resolution: int) -> str:
    """ASAP (Rong & Bailis, VLDB'17) window search in plain SQL.

    Mirrors operators/asap.py:asap_core: ACF peaks (lag 2..max_lag-1,
    value > both neighbors and > 0.2) ∪ a stride grid of candidate
    windows; SMA per candidate (sum of v·(1/w), matching np.convolve's
    product-then-sum); pick = min roughness among candidates with
    kurtosis ≥ original and roughness < original, ties → smallest w,
    fallback w=1; stride-downsample to ``resolution`` points with
    floor(x+0.5) half-up rounding. Candidate/lag ranges use a fixed
    range(4096) + filter because DuckDB's range() can't take lateral
    column parameters; 4096 safely exceeds any grid (≤ resolution×4)."""
    grid = _q6_grid(cond, subject, bucket_sql, in_range)
    return f"""
WITH grid AS ({grid}),
g AS (
  SELECT row_number() OVER (ORDER BY time) - 1 AS rn, time, value AS v
  FROM grid
),
p AS (
  SELECT count(*)::BIGINT AS n,
         greatest(1, count(*) // 10)::BIGINT AS max_w,
         AVG(v) AS mu
  FROM g
),
stats AS (
  SELECT ROUND(CASE WHEN n < 2 THEN 0.0
              WHEN SUM((v - mu) * (v - mu)) / n = 0 THEN 0.0
              ELSE (SUM(POW(v - mu, 4)) / n)
                   / POW(SUM((v - mu) * (v - mu)) / n, 2) END, 9) AS orig_kurt
  FROM g, p GROUP BY n, mu
),
diffs AS (SELECT v - lag(v) OVER (ORDER BY rn) AS d FROM g),
orig_rough AS (
  SELECT ROUND(COALESCE(STDDEV_POP(d), 0.0), 9) AS r FROM diffs WHERE d IS NOT NULL
),
acf AS (
  SELECT k.k AS lag,
         ROUND(SUM((a.v - p.mu) * (b.v - p.mu)) /
           (SELECT CASE WHEN SUM((v - mu) * (v - mu)) = 0 THEN 1.0
                        ELSE SUM((v - mu) * (v - mu)) END
            FROM g, p GROUP BY mu), 9) AS c
  FROM p, range(1, 4096) k(k)
  JOIN g a ON true
  JOIN g b ON b.rn = a.rn + k.k
  WHERE k.k <= least(p.max_w, p.n - 1)
  GROUP BY k.k
),
acfw AS (
  SELECT lag, c, lag(c) OVER (ORDER BY lag) AS c_prev,
         lead(c) OVER (ORDER BY lag) AS c_next
  FROM acf
),
peaks AS (
  SELECT lag AS w FROM acfw
  WHERE c_prev IS NOT NULL AND c_next IS NOT NULL
    AND c > c_prev AND c > c_next AND c > 0.2
),
gridw AS (
  SELECT 2 + i * greatest(1, max_w // 16) AS w
  FROM p, range(0, 4096) r(i)
  WHERE p.max_w >= 2
    AND i <= CAST(floor((p.max_w - 2) / greatest(1, p.max_w // 16)) AS BIGINT)
),
cands AS (
  SELECT DISTINCT w
  FROM (SELECT w FROM peaks UNION ALL SELECT w FROM gridw)
  WHERE w >= 2 AND w <= (SELECT max_w FROM p)
),
sm AS (
  SELECT c.w, a.rn AS j, SUM(b.v * (1.0 / c.w)) AS s
  FROM cands c
  JOIN g a ON a.rn >= c.w - 1
  JOIN g b ON b.rn BETWEEN a.rn - (c.w - 1) AND a.rn
  GROUP BY c.w, a.rn
),
smstats AS (SELECT w, count(*) AS nsm, AVG(s) AS msm FROM sm GROUP BY w),
smkurt AS (
  SELECT sm.w,
         ROUND(CASE WHEN ss.nsm < 2 THEN 0.0
              WHEN SUM((s - msm) * (s - msm)) / ss.nsm = 0 THEN 0.0
              ELSE (SUM(POW(s - msm, 4)) / ss.nsm)
                   / POW(SUM((s - msm) * (s - msm)) / ss.nsm, 2) END, 9) AS kurt
  FROM sm JOIN smstats ss ON ss.w = sm.w
  GROUP BY sm.w, ss.nsm, ss.msm
),
smdiff AS (
  SELECT w, s - lag(s) OVER (PARTITION BY w ORDER BY j) AS d FROM sm
),
smrough AS (
  SELECT w, ROUND(COALESCE(STDDEV_POP(d), 0.0), 9) AS rough
  FROM smdiff WHERE d IS NOT NULL GROUP BY w
),
best AS (
  SELECT COALESCE(
    (SELECT k.w FROM smkurt k
       JOIN smrough r ON r.w = k.w
       JOIN smstats ss ON ss.w = k.w, stats, orig_rough
     WHERE ss.nsm >= 2 AND k.kurt >= stats.orig_kurt AND r.rough < orig_rough.r
     ORDER BY r.rough ASC, k.w ASC LIMIT 1), 1) AS w
),
final_sm AS (
  SELECT a.rn - (best.w - 1) AS j, a.time, SUM(b.v * (1.0 / best.w)) AS s
  FROM best JOIN g a ON a.rn >= best.w - 1
  JOIN g b ON b.rn BETWEEN a.rn - (best.w - 1) AND a.rn
  GROUP BY a.rn, best.w, a.time
),
fp AS (SELECT count(*)::BIGINT AS nsm FROM final_sm),
stride AS (
  SELECT CASE WHEN k = {resolution} - 1 THEN fp.nsm - 1
              ELSE CAST(floor(k * ((fp.nsm - 1.0) / ({resolution}.0 - 1.0))
                              + 0.5) AS BIGINT) END AS j
  FROM fp, range({resolution}) r(k)
  WHERE fp.nsm > {resolution}
)
SELECT time, ROUND(s, 6) AS smoothed_value
FROM final_sm, fp
WHERE fp.nsm <= {resolution} OR j IN (SELECT j FROM stride)
ORDER BY time
"""


def sim_ivf_oracle(
    embeddings_parquet: str,
    query_max_id: int = 8,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
) -> str:
    """IVF top-k oracle: the deterministic k-means centroids (and their
    squared norms, computed by the very numpy expression the assignment
    UDF uses) are embedded as literals; assignment, probe selection,
    exact cosine, dedup and ranking are then recomputed independently
    in SQL. Assignment distance uses the same ``c_sq − 2·x·c`` form as
    operators/similarity.py:_cell_id_udf; probe ranking is monotone in
    the Spark side's squared distance; ties break toward the lower cell
    in both engines (stable argsort ↔ ORDER BY dist, cell)."""
    from eventhub_to_timescale_spark.operators.similarity import (
        ivf_centroids_from_parquet,
    )

    cents, c_sq = ivf_centroids_from_parquet(
        embeddings_parquet, n_centroids=n_centroids
    )
    cent_vals = ",\n".join(
        f"({i}, [{', '.join(repr(float(v)) for v in cents[i])}]::DOUBLE[], "
        f"{float(c_sq[i])!r})"
        for i in range(n_centroids)
    )
    return f"""
WITH cents(cell, cvec, c_sq) AS (VALUES {cent_vals}),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
     WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
assigned AS (
  SELECT vec_id AS neighbor_id, v AS cv, cell
  FROM (
    SELECT e.vec_id, e.v, c.cell,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY ROUND(c.c_sq - 2.0 * list_dot_product(e.v, c.cvec), 6), c.cell
           ) AS rnk
    FROM e, cents c
  ) WHERE rnk = 1
),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {query_max_id}),
probes AS (
  SELECT query_id, qv, cell AS qcell
  FROM (
    SELECT q.query_id, q.qv, c.cell,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY ROUND(c.c_sq - 2.0 * list_dot_product(q.qv, c.cvec), 6), c.cell
           ) AS rnk
    FROM q, cents c
  ) WHERE rnk <= {nprobe}
),
scored AS (
  SELECT DISTINCT query_id, neighbor_id,
         ROUND(list_dot_product(qv, cv) /
               (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))),
               6) AS cosine
  FROM probes p JOIN assigned a
    ON a.cell = p.qcell AND a.neighbor_id != p.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked
WHERE rank <= {k} ORDER BY query_id, rank
"""


def dedup_minhash_keep_oracle(
    num_hashes: int = 12, bands: int = 6, threshold: float = 0.5
) -> str:
    """Survivor set of the keep-first near-dedup: every document not
    appearing as the larger id of a MinHash near-dup pair."""
    pairs = dedup_minhash_oracle(num_hashes, bands, threshold)
    return f"""
WITH pairs AS ({pairs})
SELECT d.doc_id FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_b FROM pairs)
ORDER BY d.doc_id
"""


def dedup_verdicts_oracle(
    num_hashes: int = 12, bands: int = 6, threshold: float = 0.5
) -> str:
    """Per-document keep-first verdict frame: dup_of = min earlier
    near-dup partner from the MinHash pair graph, NULL ⇒ survivor —
    the oracle for ``dedup.minhash_dup_verdicts`` (the batch twin of
    the streaming band seen-set operator)."""
    pairs = dedup_minhash_oracle(num_hashes, bands, threshold)
    return f"""
WITH pairs AS ({pairs}),
firsts AS (
  SELECT doc_b AS doc_id, MIN(doc_a) AS dup_of FROM pairs GROUP BY doc_b
)
SELECT d.doc_id, f.dup_of
FROM documents d LEFT JOIN firsts f USING (doc_id)
ORDER BY d.doc_id
"""


def mm_frame_oracle(n_frames: int = 4) -> str:
    """REAL frame sampling verified analytically: the engine decodes a
    VID0 container of BMP frames and checksums actual decoded pixels;
    this oracle recomputes the expected checksum from the synthetic
    pixel formula (closed form in doc_id/x/y/frame — constants
    mirrored from operators/imagecodec.py) without touching any
    binary. Frame geometry: F = 2 + doc_id%7 frames of
    (16 + doc_id%9) × (12 + doc_id%7); sample i selects source frame
    (i*F)//n; n_bytes is the 24-bit BMP size 54 + h*stride(w).

    The pixel-enumeration ``range()`` bounds are derived from the
    codec geometry constants, not hard-coded, so growing VID frame
    dims in imagecodec.py cannot silently truncate the oracle."""
    from eventhub_to_timescale_spark.operators import imagecodec as ic

    max_w = ic.VID_W_BASE + ic.VID_W_MOD - 1
    max_h = ic.VID_H_BASE + ic.VID_H_MOD - 1
    return f"""
WITH d AS (
  SELECT doc_id,
         2 + doc_id % 7 AS nf,
         16 + doc_id % 9 AS w,
         12 + doc_id % 7 AS h
  FROM documents
),
f AS (
  SELECT d.doc_id, d.w, d.h, fi.i AS frame_idx,
         (fi.i * d.nf) // {n_frames} AS t,
         54 + d.h * (((3 * d.w + 3) // 4) * 4) AS n_bytes
  FROM d, range({n_frames}) fi(i)
),
px AS (
  SELECT f.doc_id, f.frame_idx, f.n_bytes,
         ((19 * f.doc_id + 7 * xs.x + 13 * ys.y + 3 * f.t) % 256
          + 2 * ((23 * f.doc_id + 5 * xs.x + 11 * ys.y + 7 * f.t) % 256)
          + 3 * ((29 * f.doc_id + 3 * xs.x + 17 * ys.y + 11 * f.t) % 256))
         * (1 + (ys.y * f.w + xs.x) % 97) AS wv
  FROM f
  JOIN range({max_w}) xs(x) ON xs.x < f.w
  JOIN range({max_h}) ys(y) ON ys.y < f.h
)
SELECT doc_id,
       CAST(frame_idx AS INTEGER) AS frame_idx,
       CAST(n_bytes AS BIGINT) AS n_bytes,
       CAST(SUM(wv) AS BIGINT) AS pixel_sum
FROM px
GROUP BY doc_id, frame_idx, n_bytes
"""


def mm_resize_oracle(width: int = 16, height: int = 12) -> str:
    """REAL image resize verified analytically: the engine decodes a
    synthetic BMP (source dims 24 + doc_id%17 × 16 + doc_id%13),
    nearest-neighbor-resizes to {width}×{height}, re-encodes, decodes
    again, and checksums the pixels; this oracle recomputes the
    checksum from the pixel formula with the same integer source map
    sx = (x*W)//w, sy = (y*H)//h. Any channel swap, row flip, stride
    bug, or off-by-one in the resize changes the position-weighted
    sum.

    Mirrors the planted near-dup rule (imagecodec.py NEARDUP_MOD):
    doc_id ≡ 1 (mod 37) renders the PARENT's (doc_id − 1) dims and
    pixel formula with the three dHash-sampled source pixels
    (col (8·W)//9, rows (r·H)//8 for r ∈ 1,4,7) forced to white —
    r+2g+3b = 6·255 = 1530 wherever the resize resamples one of
    them."""
    n_bytes = 54 + height * (((3 * width + 3) // 4) * 4)
    return f"""
WITH ids AS (
  SELECT doc_id,
         CASE WHEN doc_id % 37 = 1 AND doc_id >= 1
              THEN doc_id - 1 ELSE doc_id END AS eid,
         (doc_id % 37 = 1 AND doc_id >= 1) AS nd
  FROM documents
),
d AS (
  SELECT doc_id, eid, nd,
         24 + eid % 17 AS sw,
         16 + eid % 13 AS sh
  FROM ids
),
px AS (
  SELECT d.doc_id,
         CASE WHEN d.nd
                   AND ((xs.x * d.sw) // {width}) = (8 * d.sw) // 9
                   AND ((ys.y * d.sh) // {height}) IN
                       ((1 * d.sh) // 8, (4 * d.sh) // 8, (7 * d.sh) // 8)
              THEN 1530
              ELSE ((19 * d.eid + 7 * ((xs.x * d.sw) // {width})
                     + 13 * ((ys.y * d.sh) // {height})) % 256
                    + 2 * ((23 * d.eid + 5 * ((xs.x * d.sw) // {width})
                            + 11 * ((ys.y * d.sh) // {height})) % 256)
                    + 3 * ((29 * d.eid + 3 * ((xs.x * d.sw) // {width})
                            + 17 * ((ys.y * d.sh) // {height})) % 256))
         END * (1 + (ys.y * {width} + xs.x) % 97) AS wv
  FROM d, range({width}) xs(x), range({height}) ys(y)
)
SELECT doc_id,
       CAST({width} AS INTEGER) AS width,
       CAST({height} AS INTEGER) AS height,
       CAST({n_bytes} AS BIGINT) AS n_bytes,
       CAST(SUM(wv) AS BIGINT) AS pixel_sum
FROM px
GROUP BY doc_id
"""


def dedup_components_oracle(
    num_hashes: int = 12, bands: int = 6, threshold: float = 0.5
) -> str:
    """Connected components of the MinHash pair graph as a recursive
    CTE: cluster_id = smallest doc_id reachable through undirected
    pair edges (transitive closure is fine at oracle scale — the pair
    graph is tiny relative to the corpus)."""
    pairs = dedup_minhash_oracle(num_hashes, bands, threshold)
    return f"""
WITH RECURSIVE pairs AS ({pairs}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
FROM reach GROUP BY a
ORDER BY doc_id
"""


def pagerank_oracle(
    num_hashes: int = 12,
    bands: int = 6,
    threshold: float = 0.5,
    iters: int = 3,
) -> str:
    """Integer fixed-point PageRank (operators/pagerank.py) over the
    MinHash pair graph, iterations unrolled as chained CTEs with the
    identical `div`-based arithmetic (SCALE=10^12, damping 85/100)."""
    pairs = dedup_minhash_oracle(num_hashes, bands, threshold)
    scale, dnum, dden = 10**12, 85, 100
    cte = f"""
WITH pairs AS ({pairs}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
nodes AS (SELECT DISTINCT a AS v FROM edges),
deg AS (SELECT a AS v, count(*) AS deg FROM edges GROUP BY a),
consts AS (
  SELECT {scale} // count(*) AS base,
         ({dden - dnum} * ({scale} // count(*))) // {dden} AS tp
  FROM nodes
),
p0 AS (SELECT v, (SELECT base FROM consts) AS p FROM nodes)"""
    for k in range(iters):
        cte += f""",
p{k + 1} AS (
  SELECT n.v,
         (SELECT tp FROM consts)
         + ({dnum} * COALESCE(s.inc, 0)) // {dden} AS p
  FROM nodes n LEFT JOIN (
    SELECT e.b AS v, sum(p.p // d.deg) AS inc
    FROM edges e
    JOIN p{k} p ON p.v = e.a
    JOIN deg d ON d.v = e.a
    GROUP BY e.b
  ) s ON s.v = n.v
)"""
    return f"""{cte}
SELECT v AS doc_id, CAST(p AS BIGINT) AS rank_fp
FROM p{iters}
ORDER BY doc_id
"""


def cross_source_oracle(
    num_hashes: int = 12, bands: int = 6, threshold: float = 0.5
) -> str:
    """Near-dup contamination matrix (operators/dedup.py:
    cross_source_matrix) over the MinHash pair CTE — lexicographically
    ordered (src_a, src_b) counts."""
    pairs = dedup_minhash_oracle(num_hashes, bands, threshold)
    return f"""
WITH pairs AS ({pairs}),
lab AS (SELECT doc_id, CAST(source AS VARCHAR) AS g FROM documents)
SELECT least(la.g, lb.g) AS src_a,
       greatest(la.g, lb.g) AS src_b,
       count(*) AS n_pairs
FROM pairs p
JOIN lab la ON la.doc_id = p.doc_a
JOIN lab lb ON lb.doc_id = p.doc_b
GROUP BY 1, 2
ORDER BY 1, 2
"""


def corpus_diff_oracle(table: str = "documents") -> str:
    """operators/dedup.py:corpus_diff over the synthetic second
    snapshot used by the corpus_diff registry entry: drop doc_id%7==0,
    append ' v2' to text where doc_id%5==0, add fresh ids (+1000000)
    for doc_id%11==0.  DuckDB's hash() differs from Spark's xxhash64,
    so the oracle compares the TEXT directly — same verdicts, since
    the digest comparison is an implementation detail."""
    new_snap = f"""
  SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
  FROM {table} WHERE doc_id % 7 <> 0
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM {table} WHERE doc_id % 11 = 0
"""
    return f"""
WITH n AS ({new_snap})
SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.doc_id IS NULL THEN 'added'
            WHEN n.doc_id IS NULL THEN 'removed'
            WHEN o.text <> n.text THEN 'changed' END AS status
FROM {table} o FULL OUTER JOIN n ON o.doc_id = n.doc_id
WHERE (o.doc_id IS NULL OR n.doc_id IS NULL OR o.text <> n.text)
ORDER BY doc_id
"""


def dedup_components_keep_oracle(
    num_hashes: int = 12, bands: int = 6, threshold: float = 0.5
) -> str:
    """Cluster-canonical survivor set: drop every clustered document
    except its cluster's smallest id (the transitive-closure upgrade
    of dedup_minhash_keep_oracle's keep-first set)."""
    comps = dedup_components_oracle(num_hashes, bands, threshold)
    return f"""
WITH comps AS ({comps})
SELECT d.doc_id FROM documents d
WHERE d.doc_id NOT IN (
  SELECT doc_id FROM comps WHERE doc_id <> cluster_id
)
ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------------
# Curation operators (operators/curation.py)
# ---------------------------------------------------------------------------

# SQL rendering of the deterministic PII injection used by the
# curation_pii_redact entry (__spark_entry__._curation_pii_redact):
# every document gains one known email and one known IPv4 so the
# redaction is witnessed on every row, on top of any organic matches.
PII_INJECT_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || "
    "'@example.com from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.' || "
    "CAST((doc_id * 7) % 250 AS VARCHAR) || '.9'"
)


def curation_pii_oracle() -> str:
    """Mirror of curation.redact_pii over the injected text: email
    pass first, then IPv4, with per-class match counts. Patterns are
    shared constants — RE2 (here) and Java regex (Spark) agree on
    them by construction (no lookaround, no ambiguous alternation)."""
    from eventhub_to_timescale_spark.operators.curation import (
        EMAIL_RE,
        EMAIL_TOKEN,
        IP_TOKEN,
        IPV4_RE,
    )

    return f"""
WITH injected AS (
  SELECT doc_id, {PII_INJECT_SQL} AS text FROM documents
)
SELECT doc_id,
       regexp_replace(regexp_replace(text, '{EMAIL_RE}', '{EMAIL_TOKEN}', 'g'),
                      '{IPV4_RE}', '{IP_TOKEN}', 'g') AS clean_text,
       CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) AS INTEGER)
         AS n_emails,
       CAST(len(regexp_extract_all(text, '{IPV4_RE}')) AS INTEGER) AS n_ipv4
FROM injected
ORDER BY doc_id
"""


def curation_contamination_oracle(
    shingle_n: int = 5, eval_mod: int = 97
) -> str:
    """Mirror of curation.contamination_flags with the eval set =
    documents whose id divides by ``eval_mod``: per-document count of
    distinct word n-grams shared with any eval document."""
    sh = _word_shingles_sql(shingle_n)
    return f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), sh AS (
  SELECT doc_id, unnest({sh}) AS shingle FROM t
), es AS (
  SELECT DISTINCT shingle
  FROM (SELECT unnest({sh}) AS shingle FROM t WHERE doc_id % {eval_mod} = 0)
)
SELECT sh.doc_id, COUNT(*) AS n_overlapping
FROM sh JOIN es USING (shingle)
GROUP BY sh.doc_id
ORDER BY sh.doc_id
"""


def curation_repetition_oracle(ngram_n: int = 3) -> str:
    """Mirror of curation.repetition_stats: duplicate word-n-gram
    fraction per document (non-distinct gram list vs its distinct
    form)."""
    grams = _word_shingles_sql(ngram_n, distinct=False)
    return f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), g AS (
  SELECT doc_id, greatest(len(w) - {ngram_n - 1}, 1) AS total,
         {grams} AS grams
  FROM t
)
SELECT doc_id,
       CAST(total AS BIGINT) AS n_ngrams,
       CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
       ROUND(1.0 - len(list_distinct(grams)) / CAST(total AS DOUBLE), 6)
         AS repetition_ratio
FROM g
ORDER BY doc_id
"""
