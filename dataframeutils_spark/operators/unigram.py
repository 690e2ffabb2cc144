"""Unigram-LM subword tokenizer (Kudo 2018 — the SentencePiece unigram
model, the other major tokenizer family next to BPE): distributed
training + corpus encoding.

Same scale story as :mod:`dataframeutils_spark.operators.bpe`: the
corpus is scanned ONCE for the ``(word, count)`` table, capped to the
deterministic top-``vocab_top`` words — everything iterative runs over
that bounded frame, never the corpus, so training cost is independent
of corpus size after the one scan.

Algorithm (hard-EM / Viterbi-EM variant of the published model — the
E-step uses the single best segmentation instead of forward–backward
expectations, which keeps every count an integer and the whole
procedure engine-reproducible):

1. **Seed vocabulary**: all substrings (length ≤ ``max_piece_len``) of
   the top words, weighted by word count; keep the top ``seed_size`` by
   (count desc, piece asc), always including every single character.
2. **EM round**: Viterbi-segment each word under current piece scores
   (log-prob = log(count / total)), then re-count pieces weighted by
   word frequency. The segmentation is an Arrow-batched
   ``applyInPandas`` over the BOUNDED word table (one partition-local
   DP per word — Python is the right tool for a DP over ≤ 2k rows);
   the re-count is one map-side-combined groupBy.
3. **Prune**: drop the lowest-count multi-char pieces (keep ratio
   ``shrink`` per round, never below ``vocab_size``), then re-run EM;
   repeat until the vocabulary is at ``vocab_size``.

Driver work per round is collecting the piece table — bounded at
``seed_size`` rows by construction (the BPE trainer's bounded-collect
contract, just a table instead of one row).

Ties are pinned everywhere so the result is engine- and
implementation-reproducible: Viterbi prefers (higher score, then fewer
pieces, then lexicographically smaller piece at the boundary); pruning
and seeding order by (count desc, piece asc).

Training is iterative, but at the registered parameters (em_rounds=1,
one outer round to convergence — guarded by ``require_rounds``) the
whole procedure IS SQL-expressible, so the driver queries are
exact-hash gated against the DuckDB oracles at the bottom of this
module (flipped from rows-only in r10, mirroring the r9 BPE flip).
Exactness is additionally pinned in ``tests/test_unigram.py`` against
an independent pure-Python reference implementation with identical tie
rules (the BPE test pattern).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataframeutils_spark.operators.bpe import _word_table
from dataframeutils_spark.operators.text import _terms, _tokens_sql

UNK_SCORE = -20.0  # flat per-character penalty for unseen characters


def _viterbi(word: str, scores: dict[str, float], max_len: int) -> list[str]:
    """Best segmentation of ``word`` into scored pieces.

    DP over end positions; every single character is guaranteed in the
    vocabulary, so a segmentation always exists. Tie rule (pinned): at
    equal score prefer fewer pieces, then the lexicographically smaller
    piece ending at this position.
    """
    n = len(word)
    NEG = float("-inf")
    # best[i] = (score, n_pieces, piece_ending_here, prev_index)
    best: list[tuple[float, int, str, int]] = [(0.0, 0, "", -1)] + [
        (NEG, 0, "", -1)
    ] * n
    for i in range(1, n + 1):
        for j in range(max(0, i - max_len), i):
            piece = word[j:i]
            s = scores.get(piece)
            if s is None or best[j][0] == NEG:
                continue
            cand = (best[j][0] + s, best[j][1] + 1, piece, j)
            cur = best[i]
            if (
                cand[0] > cur[0]
                or (cand[0] == cur[0] and cand[1] < cur[1])
                or (cand[0] == cur[0] and cand[1] == cur[1] and cand[2] < cur[2])
            ):
                best[i] = cand
        if best[i][0] == NEG:
            # character unseen in training: emit it as its own UNK piece
            # with a flat penalty (standard unigram-LM inference
            # behavior) instead of poisoning every downstream position
            best[i] = (best[i - 1][0] + UNK_SCORE, best[i - 1][1] + 1, word[i - 1 : i], i - 1)
    out: list[str] = []
    i = n
    while i > 0:
        _, _, piece, j = best[i]
        out.append(piece)
        i = j
    return out[::-1]


def _seed_pieces(wt: DataFrame, max_piece_len: int, seed_size: int) -> DataFrame:
    """(piece, cnt): all ≤ max_piece_len substrings of the word table,
    top ``seed_size`` by (cnt desc, piece asc) with single chars always
    kept. Bounded: |words| × len × max_piece_len rows pre-aggregation."""
    subs = wt.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.length("word")),
                    lambda i: F.transform(
                        F.sequence(
                            F.lit(1),
                            F.least(F.lit(max_piece_len), F.length("word") - i + 1),
                        ),
                        lambda l: F.col("word").substr(i, l),
                    ),
                )
            )
        ).alias("piece"),
        "cnt",
    )
    counts = subs.groupBy("piece").agg(F.sum("cnt").alias("cnt"))
    chars = counts.filter(F.length("piece") == 1)
    multi = (
        counts.filter(F.length("piece") > 1)
        .orderBy(F.col("cnt").desc(), "piece")
        .limit(seed_size)
    )
    return chars.unionByName(multi)


def unigram_train(
    docs: DataFrame,
    vocab_size: int = 400,
    seed_size: int = 2000,
    max_piece_len: int = 6,
    vocab_top: int = 2000,
    em_rounds: int = 2,
    shrink: float = 0.75,
    text_col: str = "text",
    require_rounds: int | None = None,
) -> tuple[DataFrame, dict[str, float]]:
    """Learn a unigram-LM vocabulary; returns (vocab table DataFrame,
    {piece: logprob} for :func:`unigram_encode_stats`).

    Vocab table columns: piece, cnt (final Viterbi count — integer by
    the hard-EM construction), logprob.

    ``require_rounds=N`` raises a readable ValueError if the outer
    EM+prune loop converges in a different number of iterations. The
    exact-gated driver queries pass 1 because their DuckDB oracle
    replays exactly one seed → EM → break round (the bpe
    ``require_full`` pattern): on a corpus rich enough to need a prune
    round, the asymmetry must fail loudly here, not as an opaque gate
    hash diff.
    """
    spark = docs.sparkSession
    wt = _word_table(docs, text_col, vocab_top).persist()
    pieces = {
        r["piece"]: int(r["cnt"])
        for r in _seed_pieces(wt, max_piece_len, seed_size).collect()
    }

    def em_counts(scores: dict[str, float]) -> dict[str, int]:
        b = spark.sparkContext.broadcast(scores)

        def seg(it):
            sc = b.value
            for pdf in it:
                rows = []
                for w, c in zip(pdf["word"], pdf["cnt"]):
                    for p in _viterbi(w, sc, max_piece_len):
                        rows.append((p, int(c)))
                yield pd.DataFrame(rows, columns=["piece", "cnt"])

        out = (
            wt.mapInPandas(seg, "piece string, cnt long")  # scan-side DP
            .groupBy("piece")
            .agg(F.sum("cnt").alias("cnt"))
        )
        res = {r["piece"]: int(r["cnt"]) for r in out.collect()}
        b.unpersist()
        return res

    def to_scores(counts: dict[str, int]) -> dict[str, float]:
        # single characters are floored at count 1: they guarantee every
        # word stays segmentable (full coverage), even when the current
        # Viterbi solutions never use them
        floored = {
            p: (max(c, 1) if len(p) == 1 else c) for p, c in counts.items()
        }
        total = sum(floored.values())
        return {p: math.log(c / total) for p, c in floored.items() if c > 0}

    counts = pieces
    rounds = 0
    while True:
        rounds += 1
        for _ in range(em_rounds):
            scores = to_scores(counts)
            new = em_counts(scores)
            # chars must never leave the vocabulary (full coverage);
            # unused ones stay with count 0 at the floor
            counts = {
                p: new.get(p, 0)
                for p in counts
                if len(p) == 1 or new.get(p, 0) > 0
            }
        n_multi = sum(1 for p in counts if len(p) > 1)
        n_chars = len(counts) - n_multi
        target_multi = max(vocab_size - n_chars, 0)
        if n_multi <= target_multi:
            break
        keep = max(target_multi, int(n_multi * shrink))
        survivors = sorted(
            ((p, c) for p, c in counts.items() if len(p) > 1),
            key=lambda pc: (-pc[1], pc[0]),
        )[:keep]
        counts = {p: c for p, c in counts.items() if len(p) == 1}
        counts.update(dict(survivors))
    wt.unpersist()
    if require_rounds is not None and rounds != require_rounds:
        raise ValueError(
            f"unigram_train: converged after {rounds} EM+prune rounds, "
            f"expected exactly {require_rounds}. The SQL oracle replays a "
            "fixed number of rounds, so an exact gate on this corpus would "
            "mismatch — the corpus vocabulary grew past what one EM pass "
            "prunes to vocab_size; regenerate the oracle or drop "
            "require_rounds."
        )
    scores = to_scores(counts)
    table = spark.createDataFrame(
        sorted(
            ((p, int(c), scores[p]) for p, c in counts.items()),
            key=lambda r: (-r[1], r[0]),
        ),
        "piece string, cnt long, logprob double",
    )
    return table, scores


def unigram_encode_stats(
    docs: DataFrame,
    scores: dict[str, float],
    max_piece_len: int = 6,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Viterbi-encode every document with the learned vocabulary and
    emit per-doc stats: n_words, n_chars_tok (characters entering the
    tokenizer), n_tokens, compression = chars/tokens.

    Arrow-batched ``mapInPandas`` with the broadcast vocabulary — the
    DP needs Python, but it runs scan-side: no shuffle, the text never
    leaves its partition, linear in corpus size.
    """
    spark = docs.sparkSession
    b = spark.sparkContext.broadcast(scores)
    base = docs.select(
        F.col(id_col),
        _terms(text_col).alias("_words"),
    )

    def enc(it):
        sc = b.value
        for pdf in it:
            out = []
            for i, words in zip(pdf[id_col], pdf["_words"]):
                n_tok = 0
                n_chr = 0
                for w in words:
                    n_chr += len(w)
                    n_tok += len(_viterbi(w, sc, max_piece_len))
                out.append((i, len(words), n_chr, n_tok))
            yield pd.DataFrame(
                out, columns=[id_col, "n_words", "n_chars_tok", "n_tokens"]
            )

    res = base.mapInPandas(
        enc, f"{id_col} long, n_words int, n_chars_tok int, n_tokens int"
    )
    return res.withColumn(
        "compression",
        F.try_divide(F.col("n_chars_tok").cast("double"), F.col("n_tokens")),
    )


def tokenizer_fertility(
    docs: DataFrame,
    unigram_scores: dict[str, float],
    bpe_rules: list[tuple[str, str, int]],
    group_col: str = "lang",
    max_piece_len: int = 6,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-group tokenizer evaluation: fertility (tokens per word) and
    chars-per-token for the trained unigram AND BPE vocabularies side
    by side — the standard multilingual tokenizer-quality report (a
    tokenizer that fragments one language 3× more than another skews
    that language's effective context length and training compute).

    One scan per tokenizer (both linear, zero text shuffle), one
    map-side-combined groupBy each, and a tiny (|groups|) join.
    Exact-hash gated since r10: the oracle (tokenizer_fertility_sql)
    composes the BPE replace-chain and the unigram recursive-CTE DP in
    one statement; the per-doc encoders it aggregates are additionally
    reference-pinned in their own tests.
    """
    uni = unigram_encode_stats(
        docs, unigram_scores, max_piece_len=max_piece_len,
        id_col=id_col, text_col=text_col,
    ).join(docs.select(id_col, group_col), id_col)
    from dataframeutils_spark.operators.bpe import bpe_encode_stats

    bpe_st = bpe_encode_stats(
        docs, bpe_rules, id_col=id_col, text_col=text_col
    ).join(docs.select(id_col, group_col), id_col)
    u = uni.groupBy(group_col).agg(
        F.count("*").alias("n_docs"),
        (F.sum("n_tokens") / F.sum("n_words")).alias("uni_fertility"),
        (F.sum("n_chars_tok") / F.sum("n_tokens")).alias("uni_chars_per_tok"),
    )
    b = bpe_st.groupBy(group_col).agg(
        (F.sum("n_tokens") / F.sum("n_words")).alias("bpe_fertility"),
        (F.sum("n_symbols") / F.sum("n_tokens")).alias("bpe_syms_per_tok"),
    )
    return u.join(b, group_col)


# --- DuckDB oracles -------------------------------------------------------
#
# Unigram-LM TRAINING is expressible in SQL at the registered
# parameters, mirroring the BPE flip (operators/bpe.py "DuckDB
# oracles"): with em_rounds=1 the whole procedure is seed → one
# Viterbi-EM recount → break, and the Viterbi DP itself is a recursive
# CTE over character positions. Each DP row carries a FRONTIER — the
# best (neg-score, n_pieces, boundary piece, path) struct for the last
# ``max_piece_len`` positions — so the recursion needs only the
# previous iteration's rows (recursive CTEs can't see older
# iterations), and the winning segmentation is read off the carried
# path (no backtracking pass). The struct field order (ns, np, piece)
# makes DuckDB's lexicographic struct min IDENTICAL to the engine's
# pinned tie rule: higher score, then fewer pieces, then
# lexicographically smaller boundary piece. Score sums match bitwise
# because IEEE-754 negation distributes exactly over addition, so the
# oracle's neg-score accumulation is the bit-negation of the engine's
# score accumulation, and both engines call the same libm ln/log.
#
# Two asymmetries, both guarded engine-side by ``require_rounds`` (the
# bpe ``require_full`` pattern): the oracle replays exactly ONE outer
# EM+prune round (true at every test SF — the synthetic corpus has 31
# distinct words, so one EM pass drops the 800-piece seed straight
# below the prune target), and only em_rounds=1 is supported.

_UNK_NS = "20.0"  # -UNK_SCORE, as accumulated on the neg-score axis


def _viterbi_dp_cte(
    dp: str, words_from: str, scores_cte: str, max_piece_len: int = 6
) -> str:
    """Recursive CTE ``dp(word, i, hist)`` segmenting every word of
    ``words_from`` (a FROM-able relation with a ``word`` column) under
    ``scores_cte(piece, s)``. The best segmentation of each word is
    ``hist[1].path`` on the row with ``i = length(word)``; its token
    count is ``hist[1].np``."""
    K = max_piece_len
    cands, joins = [], []
    for k in range(1, K + 1):
        piece = f"substr(d.word, d.i+2-{k}, {k})"
        cands.append(
            f"CASE WHEN d.i+1 >= {k} AND s{k}.s IS NOT NULL THEN "
            f"{{'ns': d.hist[{k}].ns - s{k}.s, 'np': d.hist[{k}].np + 1, "
            f"'piece': {piece}, "
            f"'path': list_append(d.hist[{k}].path, {piece})}} END AS c{k}"
        )
        joins.append(
            f"      LEFT JOIN {scores_cte} s{k} ON d.i+1 >= {k} "
            f"AND s{k}.piece = {piece}"
        )
    cand_cols = ",\n        ".join(cands)
    cand_list = ", ".join(f"c{k}" for k in range(1, K + 1))
    return f"""{dp} AS (
  SELECT word, 0 AS i,
         [{{'ns': CAST(0.0 AS DOUBLE), 'np': 0, 'piece': '',
            'path': CAST([] AS VARCHAR[])}}] AS hist
  FROM {words_from}
  UNION ALL
  SELECT word, i + 1, list_prepend(best, hist[1:{K - 1}]) AS hist
  FROM (
    SELECT word, i, hist,
      COALESCE(
        list_sort(list_filter([{cand_list}], x -> x IS NOT NULL))[1],
        {{'ns': hist[1].ns + CAST({_UNK_NS} AS DOUBLE), 'np': hist[1].np + 1,
          'piece': substr(word, i+1, 1),
          'path': list_append(hist[1].path, substr(word, i+1, 1))}}
      ) AS best
    FROM (
      SELECT d.word, d.i, d.hist,
        {cand_cols}
      FROM {dp} d
{chr(10).join(joins)}
      WHERE d.i < length(d.word)
    )
  )
)"""


def _floored_scores_cte(name: str, counts_cte: str) -> str:
    """``to_scores`` in SQL: single chars floored at count 1, total
    over the floored counts, log-prob = ln(c / total)."""
    floor = "CASE WHEN length(piece) = 1 THEN greatest(cnt, 1) ELSE cnt END"
    return f"""{name} AS MATERIALIZED (
  SELECT piece, ln(CAST(fc AS DOUBLE) / CAST(tot AS DOUBLE)) AS s
  FROM (SELECT piece, {floor} AS fc FROM {counts_cte}),
       (SELECT CAST(sum({floor}) AS BIGINT) AS tot FROM {counts_cte})
  WHERE fc > 0
)"""


def _unigram_vocab_ctes(
    seed_size: int = 800,
    max_piece_len: int = 6,
    vocab_top: int = 2000,
    em_rounds: int = 1,
    table: str = "documents",
    define_base: bool = True,
) -> str:
    """CTE chain (toks, w, useed, usc0, udpa, urecount, ucnts1, usc1)
    whose ``ucnts1``/``usc1`` are the final vocabulary counts and
    log-prob scores — byte-identical to :func:`unigram_train` at
    ``require_rounds=1``. With ``define_base=False`` the shared
    ``toks``/``w`` CTEs (identical definitions) are assumed to exist —
    for composition with the BPE chain in the fertility oracle."""
    if em_rounds != 1:
        raise ValueError("SQL oracle supports em_rounds=1 only")
    K = max_piece_len
    ctes = []
    if define_base:
        ctes += [
            f"""toks AS MATERIALIZED (
  SELECT {_tokens_sql("lower(text)")} AS ws FROM {table}
)""",
            f"""w AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(ws) AS word FROM toks)
  GROUP BY word ORDER BY cnt DESC, word LIMIT {vocab_top}
)""",
        ]
    ctes += [
        f"""useed_all AS MATERIALIZED (
  SELECT piece, CAST(sum(cnt) AS BIGINT) AS cnt FROM (
    SELECT unnest(flatten(list_transform(range(1, length(word)+1),
        i -> list_transform(range(1, least({K}, length(word)-i+1)+1),
             l -> substr(word, CAST(i AS INT), CAST(l AS INT)))))) AS piece,
           cnt
    FROM w
  ) GROUP BY piece
)""",
        f"""useed AS MATERIALIZED (
  SELECT piece, cnt FROM useed_all WHERE length(piece) = 1
  UNION ALL
  SELECT piece, cnt FROM (
    SELECT piece, cnt FROM useed_all WHERE length(piece) > 1
    ORDER BY cnt DESC, piece LIMIT {seed_size})
)""",
        _floored_scores_cte("usc0", "useed"),
        _viterbi_dp_cte("udpa", "(SELECT word FROM w)", "usc0", K),
        """urecount AS MATERIALIZED (
  SELECT piece, CAST(sum(cnt) AS BIGINT) AS cnt FROM (
    SELECT unnest(f.hist[1].path) AS piece, w.cnt
    FROM udpa f JOIN w USING (word)
    WHERE f.i = length(f.word)
  ) GROUP BY piece
)""",
        """ucnts1 AS MATERIALIZED (
  SELECT s.piece, CAST(COALESCE(r.cnt, 0) AS BIGINT) AS cnt
  FROM useed s LEFT JOIN urecount r USING (piece)
  WHERE length(s.piece) = 1 OR COALESCE(r.cnt, 0) > 0
)""",
        _floored_scores_cte("usc1", "ucnts1"),
    ]
    return ",\n".join(ctes)


def unigram_train_sql(
    seed_size: int = 800,
    max_piece_len: int = 6,
    vocab_top: int = 2000,
    table: str = "documents",
) -> str:
    """DuckDB oracle for :func:`unigram_train`'s vocab table at
    ``require_rounds=1`` (piece, cnt, siground-rounded logprob)."""
    from dataframeutils_spark.schema import siground_sql

    return f"""
WITH RECURSIVE {_unigram_vocab_ctes(seed_size, max_piece_len, vocab_top, 1, table)}
SELECT c.piece, c.cnt, {siground_sql('s.s')} AS logprob
FROM ucnts1 c JOIN usc1 s USING (piece)
"""


def _unigram_wordtok_ctes(
    seed_size: int = 800,
    max_piece_len: int = 6,
    vocab_top: int = 2000,
    table: str = "documents",
    define_base: bool = True,
    define_dw: bool = True,
) -> str:
    """Vocab chain + (dw, udpb, uwtok): every DISTINCT corpus word
    Viterbi-encoded once under the final scores, yielding
    ``uwtok(word, t)`` with t = token count."""
    parts = [
        _unigram_vocab_ctes(
            seed_size, max_piece_len, vocab_top, 1, table, define_base
        )
    ]
    if define_dw:
        parts.append(
            """dw AS MATERIALIZED (
  SELECT DISTINCT unnest(ws) AS word FROM toks
)"""
        )
    parts += [
        _viterbi_dp_cte("udpb", "dw", "usc1", max_piece_len),
        """uwtok AS MATERIALIZED (
  SELECT word, CAST(hist[1].np AS BIGINT) AS t
  FROM udpb WHERE i = length(word)
)""",
    ]
    return ",\n".join(parts)


def unigram_encode_stats_sql(
    seed_size: int = 800,
    max_piece_len: int = 6,
    vocab_top: int = 2000,
    table: str = "documents",
) -> str:
    """DuckDB oracle for :func:`unigram_encode_stats` (per-doc word/
    char/token counts + siground-rounded compression). Distinct words
    are DP-encoded ONCE, then joined back to the per-doc word list —
    the bpe_encode_stats_sql pattern."""
    from dataframeutils_spark.schema import siground_sql

    comp = siground_sql("n_chars_tok * 1.0 / n_tokens")
    return f"""
WITH RECURSIVE {_unigram_wordtok_ctes(seed_size, max_piece_len, vocab_top, table)},
docw AS (
  SELECT doc_id, unnest({_tokens_sql("lower(text)")}) AS word FROM {table}
),
agg AS (
  SELECT d.doc_id,
         CAST(count(*) AS INT) AS n_words,
         CAST(sum(length(d.word)) AS INT) AS n_chars_tok,
         CAST(sum(uwtok.t) AS INT) AS n_tokens
  FROM docw d JOIN uwtok USING (word)
  GROUP BY d.doc_id
),
-- engine emits EVERY doc (wordless ones with zero counts, NULL ratio)
alldocs AS (
  SELECT doc_id,
         CAST(COALESCE(n_words, 0) AS INT) AS n_words,
         CAST(COALESCE(n_chars_tok, 0) AS INT) AS n_chars_tok,
         CAST(COALESCE(n_tokens, 0) AS INT) AS n_tokens
  FROM {table} t LEFT JOIN agg USING (doc_id)
)
SELECT doc_id, n_words, n_chars_tok, n_tokens,
       CASE WHEN n_tokens > 0 THEN {comp} END AS compression
FROM alldocs
"""


def tokenizer_fertility_sql(
    n_merges: int = 30,
    seed_size: int = 800,
    max_piece_len: int = 6,
    vocab_top: int = 2000,
    table: str = "documents",
    group_col: str = "lang",
) -> str:
    """DuckDB oracle for :func:`tokenizer_fertility`: the BPE word-token
    chain and the unigram word-token chain composed in one statement
    (shared toks/w/dw base), aggregated per language with the
    fixed-decimal rounding the Spark side applies via
    ``round_floats(all_dec=True)``."""
    from dataframeutils_spark.operators.bpe import _bpe_wordtok_ctes
    from dataframeutils_spark.schema import decround_sql

    def ratio(num: str, den: str) -> str:
        return (
            f"CASE WHEN {den} > 0 THEN "
            + decround_sql(f"CAST({num} AS DOUBLE) / CAST({den} AS DOUBLE)")
            + " END"
        )

    return f"""
WITH RECURSIVE {_bpe_wordtok_ctes(n_merges, vocab_top, table)},
{_unigram_wordtok_ctes(seed_size, max_piece_len, vocab_top, table,
                       define_base=False, define_dw=False)},
docw AS (
  SELECT {group_col}, unnest({_tokens_sql("lower(text)")}) AS word FROM {table}
),
ndocs AS (
  SELECT {group_col}, CAST(count(*) AS BIGINT) AS n_docs
  FROM {table} GROUP BY {group_col}
),
ua AS (
  SELECT {group_col},
         CAST(count(*) AS BIGINT) AS nw,
         CAST(sum(length(word)) AS BIGINT) AS nc,
         CAST(sum(u.t) AS BIGINT) AS nt
  FROM docw JOIN uwtok u USING (word) GROUP BY {group_col}
),
ba AS (
  SELECT {group_col},
         CAST(sum(length(word) + 1) AS BIGINT) AS ns,
         CAST(sum(b.t) AS BIGINT) AS nt
  FROM docw JOIN wtok b USING (word) GROUP BY {group_col}
)
SELECT n.{group_col}, n.n_docs,
       {ratio('ua.nt', 'ua.nw')} AS uni_fertility,
       {ratio('ua.nc', 'ua.nt')} AS uni_chars_per_tok,
       {ratio('ba.nt', 'ua.nw')} AS bpe_fertility,
       {ratio('ba.ns', 'ba.nt')} AS bpe_syms_per_tok
FROM ndocs n
LEFT JOIN ua USING ({group_col})
LEFT JOIN ba USING ({group_col})
"""
