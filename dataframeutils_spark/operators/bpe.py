"""Byte-pair-encoding tokenizer: distributed training + corpus encoding.

A real (not regex-approximated) BPE subword tokenizer (Sennrich et al.
2016, ACL — the GPT-2/Llama tokenizer family), trained the classic way:
on the WORD-FREQUENCY table, never the raw corpus. That one design
choice is the whole scale story:

* The corpus is scanned ONCE to build ``(word, count)`` — at 100 TB the
  distinct-word table is orders of magnitude smaller than the corpus,
  and the trainer further caps it to the deterministic top-``vocab_top``
  words (count desc, word asc), so every training iteration runs over a
  small, broadcastable frame no matter the input size.
* Each of the ``n_merges`` rounds is: explode adjacent symbol pairs
  weighted by word count → one map-side-combined sum → a 1-row argmax
  collect (count desc, pair lexicographic — deterministic), then the
  winning rule is applied to the symbol arrays as a JVM-side
  ``aggregate`` fold (left-to-right greedy non-overlapping, the
  standard BPE application order). Driver work per round is ONE row.
* ``localCheckpoint`` every few rounds truncates the plan lineage, the
  same guard the connected-components and TextRank loops use.
* Encoding replays the learned rules in rank order as chained folds
  inside a single scan projection — no shuffle, no Python, linear.

Training is inherently iterative (each merge depends on the previous),
so the driver queries get rows-only gate checks; exactness is pinned in
``tests/test_bpe.py`` against an independent pure-Python reference
implementation with identical tie rules.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataframeutils_spark.operators.text import _terms, _tokens_sql

END_OF_WORD = "▁"  # sentencepiece-style marker, appended per word


def _word_table(docs: DataFrame, text_col: str, vocab_top: int) -> DataFrame:
    words = docs.select(F.explode(_terms(text_col)).alias("word"))
    return (
        words.groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("word"))
        .limit(vocab_top)
    )


def _apply_merge(syms: Column, left: str, right: str) -> Column:
    """One BPE rule as a left-to-right greedy fold (JVM-side)."""
    merged = left + right
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _bpe_train_local(
    wc: list[tuple[str, int]], n_merges: int
) -> list[tuple[str, str, int]]:
    """Greedy BPE merge rounds over a collected (word, cnt) table —
    exactly the distributed loop's semantics: pair counts weighted by
    word count, argmax by (count desc, left asc, right asc), rule
    applied as a leftmost non-overlapping single pass. Python string
    ``<`` compares code points, which equals Spark's UTF8String byte
    order for valid UTF-8, so the tiebreak is engine-identical; the
    symbol split (``list(word)``) is code points, matching both
    Spark's regex-based ``split(word, '')`` and the oracle's
    per-character ``substr``."""
    seqs = [list(w) + [END_OF_WORD] for w, _ in wc]
    rules: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        pc: dict[tuple[str, str], int] = {}
        for (_, c), s in zip(wc, seqs):
            for a, b in zip(s, s[1:]):
                pc[(a, b)] = pc.get((a, b), 0) + c
        if not pc:
            break
        (left, right), n = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0])
        )
        if n < 2:
            break
        rules.append((left, right, int(n)))
        merged = left + right
        for s in seqs:
            out: list[str] = []
            for x in s:
                if out and out[-1] == left and x == right:
                    out[-1] = merged
                else:
                    out.append(x)
            s[:] = out
    return rules


def bpe_train(
    docs: DataFrame,
    n_merges: int = 30,
    vocab_top: int = 2000,
    text_col: str = "text",
    require_full: bool = False,
    local_vocab_threshold: int = 100_000,
) -> tuple[DataFrame, list[tuple[str, str, int]]]:
    """Learn ``n_merges`` BPE rules; returns (merge table DataFrame,
    the same rules as a driver-side list for :func:`bpe_encode`).

    Merge table columns: rank (1-based), left, right, merged,
    pair_count (the weighted occurrence count that won the round).

    ``require_full=True`` raises a readable ValueError if training
    early-stops (best pair count < 2) before all ``n_merges`` rules are
    learned. The exact-gated driver queries set it because their DuckDB
    oracle unconditionally replays all ``n_merges`` rounds — on a
    corpus too sparse to support them, the asymmetry must fail loudly
    here, not as an opaque row-count diff at the gate.

    The merge rounds run on the driver when ``vocab_top`` ≤
    ``local_vocab_threshold`` (default 100k words; 0 disables the local
    path), otherwise as the distributed loop.
    """
    spark = docs.sparkSession
    wt = _word_table(docs, text_col, vocab_top)
    if 0 < vocab_top <= local_vocab_threshold:
        # The training frame is ≤ vocab_top rows BY CONTRACT (the limit
        # above), so collecting it is bounded at any corpus size — the
        # whole iterative loop then runs driver-local instead of paying
        # 30 rounds × (explode + aggregate + 1-row collect + interpreted
        # merge fold) of cluster scheduling on a 2000-row table. The
        # corpus-sized work (the word count) stays distributed.
        wc = [(r["word"], int(r["cnt"])) for r in wt.collect()]
        rules = _bpe_train_local(wc, n_merges)
    else:
        rules = _bpe_train_distributed(wt, n_merges)
    if require_full and len(rules) < n_merges:
        raise ValueError(
            f"bpe_train: early-stopped after {len(rules)}/{n_merges} merges "
            "(best remaining pair occurs < 2 times). The corpus is too "
            "sparse for the requested merge count; the SQL oracle replays "
            "all rounds unconditionally, so an exact gate on this corpus "
            "would mismatch — lower n_merges or use a larger corpus."
        )
    table = spark.createDataFrame(
        [
            (i + 1, l, r, l + r, n)
            for i, (l, r, n) in enumerate(rules)
        ],
        "rank int, left string, right string, merged string, pair_count long",
    )
    return table, rules


def _bpe_train_distributed(
    wt: DataFrame, n_merges: int
) -> list[tuple[str, str, int]]:
    """The distributed merge loop — byte-for-byte the pre-threshold
    behavior, kept for word tables above the driver-local ceiling."""
    seqs = wt.select(
        F.concat(
            F.split(F.col("word"), ""), F.array(F.lit(END_OF_WORD))
        ).alias("syms"),
        "cnt",
    ).persist()
    seqs.count()
    rules: list[tuple[str, str, int]] = []
    cur = seqs
    for rank in range(1, n_merges + 1):
        pairs = cur.select(
            F.posexplode(F.slice(F.col("syms"), F.lit(1), F.size("syms") - 1)).alias(
                "i", "left"
            ),
            F.col("syms"),
            "cnt",
        ).select(
            "left",
            F.element_at(F.col("syms"), F.col("i") + 2).alias("right"),
            "cnt",
        )
        top = (
            pairs.groupBy("left", "right")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.col("n").desc(), F.col("left"), F.col("right"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["n"] < 2:
            break
        left, right, n = top[0]["left"], top[0]["right"], int(top[0]["n"])
        rules.append((left, right, n))
        cur = cur.select(_apply_merge(F.col("syms"), left, right).alias("syms"), "cnt")
        if rank % 5 == 0:
            # truncate lineage: 5 chained HOF folds per checkpoint
            cur = cur.localCheckpoint(eager=True)
    seqs.unpersist()
    return rules


_SEP = "\x01"  # symbol separator for the string-replace encode form
_BOUND = "\x02"  # word-boundary byte: makes cross-word matches impossible


def bpe_encode_stats(
    docs: DataFrame,
    rules: list[tuple[str, str, int]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Encode every document with the learned rules (rank order,
    chained scan-side string replaces — zero shuffle, zero Python) and
    emit per-doc stats: n_words, n_symbols, n_tokens, compression =
    chars+words (the pre-merge symbol count incl. end-of-word markers)
    / tokens.

    Encoding form: the whole document as ONE separator-wrapped symbol
    string (sep + sym + sep sep + sym + ... + sep per word), each rule
    applied as a single-pass literal ``replace`` — the same
    representation the DuckDB oracle uses, and provably equivalent to
    the per-word greedy fold (leftmost non-overlapping; a replacement
    never re-participates in its own pass). Words are joined with a
    DISTINCT boundary byte (\\x02), so the between-words region is
    ``sep boundary sep`` — a rule pattern (which contains only
    ``sep sep`` between its two symbols) can never straddle a word
    boundary, even for pathological corpora whose text contains the
    end-of-word marker character itself. vs the previous 30 chained
    array folds (O(len²) copies per rule), each replace is one linear
    JVM scan: measured 92 s → ~3 s for the sf0.1 corpus encode.
    Constraint (shared with the oracle): corpus text must not contain
    the \\x01/\\x02 control bytes — enforced scan-side with
    ``assert_true`` so corrupt input fails loudly at execution instead
    of hash-mismatching downstream (the array-fold form had no such
    constraint; this one trades it for the linear-scan encode)."""
    words = _terms(text_col)
    # Reserved-byte guard: NULL (and a no-op) on clean rows, a loud
    # SparkRuntimeException naming the doc on corrupt ones. Folded into
    # BOTH n_words and n_tokens via coalesce so the non-foldable assert
    # survives Catalyst column pruning for any projection that keeps at
    # least one count the encode correctness flows through, without
    # changing any output value.
    guard = F.assert_true(
        # coalesce: NULL text is not corrupt — let it propagate NULL
        # downstream as before instead of tripping the assert
        ~F.coalesce(
            F.col(text_col).contains(_SEP)
            | F.col(text_col).contains(_BOUND),
            F.lit(False),
        ),
        F.concat(
            F.lit(
                "bpe_encode_stats: text contains a reserved control byte "
                "(\\x01 symbol separator or \\x02 word boundary); the "
                "string-replace encode would be silently wrong. Clean or "
                "drop the row first. doc "
            ),
            F.col(id_col).cast("string"),
        ),
    ).cast("int")
    sep2 = _SEP + _SEP
    wrapped = F.concat_ws(
        _BOUND,
        F.transform(
            words,
            lambda w: F.concat(
                F.lit(_SEP),
                F.array_join(
                    F.concat(F.split(w, ""), F.array(F.lit(END_OF_WORD))), sep2
                ),
                F.lit(_SEP),
            ),
        ),
    )
    enc = wrapped
    for left, right, _ in rules:
        enc = F.replace(
            enc,
            F.lit(_SEP + left + sep2 + right + _SEP),
            F.lit(_SEP + left + right + _SEP),
        )
    # 2 separator chars per symbol → token count = sep count / 2
    n_tokens = (
        (F.length(enc) - F.length(F.replace(enc, F.lit(_SEP), F.lit(""))))
        / F.lit(2)
    ).cast("int") + F.coalesce(guard, F.lit(0))
    # pre-merge symbol count = chars + one end-of-word marker per word
    n_symbols = F.coalesce(
        F.aggregate(
            words, F.lit(0), lambda acc, w: acc + F.length(w) + F.lit(1)
        ),
        F.lit(0),
    )
    return docs.select(
        id_col,
        # coalesce: size(NULL) is NULL but the oracle models wordless
        # docs (incl. NULL text) as zero counts
        (F.coalesce(F.size(words), F.lit(0)) + F.coalesce(guard, F.lit(0))
         ).alias("n_words"),
        n_symbols.alias("n_symbols"),
        n_tokens.alias("n_tokens"),
        # try_divide: a wordless doc has n_tokens = 0 and must emit a
        # NULL ratio (as the oracle models), not an ANSI-mode
        # divide-by-zero error
        F.try_divide(n_symbols.cast("double"), n_tokens).alias("compression"),
    )


# --- DuckDB oracles -------------------------------------------------------
#
# BPE training IS expressible in ANSI-ish SQL: each greedy round is one
# pair-count aggregation + a deterministic 1-row argmax, and applying
# the winning rule to every word is a single string replace() over a
# separator-wrapped symbol encoding. replace() (leftmost,
# non-overlapping, single pass, scan resumes AFTER the replacement) is
# exactly the semantics of the engine's left-to-right greedy fold
# (_apply_merge): in both, a symbol produced by a merge can never
# participate in another merge within the same round, because
# merged == left would require an empty right and merged == right would
# require the merged symbol to be the CURRENT element rather than the
# accumulator tail. The separator is chr(1) doubled between symbols and
# single at the ends, so a pattern sep+l+sep+sep+r+sep can only match at
# true symbol boundaries (a corpus containing literal \x01 bytes would
# break the encoding; the engine side uses arrays and has no such
# constraint).
#
# The 30 rounds become 30 chained CTE pairs (r{i} = winning rule,
# s{i} = corpus after applying it). Every CTE is AS MATERIALIZED:
# each s{i} is referenced three times by round i+1 (pair count + two
# scalar subqueries), so without materialization the inlined plan grows
# 3^rounds. The whole chain runs over the bounded top-``vocab_top``
# word table, never the corpus, mirroring the engine's scale design.
#
# One asymmetry: the engine stops early if the best pair occurs < 2
# times; SQL cannot break, so the oracle assumes all ``n_merges``
# rounds are viable (true at every test SF — the weakest round at
# sf0.01 still has pair_count 936; guarded by the gate itself).


def _bpe_rules_ctes(
    n_merges: int = 30, vocab_top: int = 2000, table: str = "documents"
) -> str:
    """CTE chain (toks, w, s0, r1..rN, s1..sN-1, rules) whose final
    ``rules`` relation is (rank, left, right, merged, pair_count) —
    byte-identical to :func:`bpe_train`'s merge table."""
    sep = "chr(1)"
    ctes = [
        f"""toks AS MATERIALIZED (
  SELECT {_tokens_sql("lower(text)")} AS ws FROM {table}
)""",
        f"""w AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(ws) AS word FROM toks)
  GROUP BY word ORDER BY cnt DESC, word LIMIT {vocab_top}
)""",
        f"""s0 AS MATERIALIZED (
  SELECT cnt,
         {sep} || array_to_string(
           list_append(list_transform(range(1, length(word)+1),
                                      i -> substr(word, CAST(i AS INT), 1)),
                       '{END_OF_WORD}'),
           {sep}||{sep}) || {sep} AS s
  FROM w
)""",
    ]
    for i in range(1, n_merges + 1):
        prev = f"s{i - 1}"
        ctes.append(f"""r{i} AS MATERIALIZED (
  SELECT l, r, CAST(sum(cnt) AS BIGINT) AS n FROM (
    SELECT unnest(list_slice(syms, 1, len(syms)-1)) AS l,
           unnest(list_slice(syms, 2, len(syms))) AS r, cnt
    FROM (SELECT string_split(trim(s, {sep}), {sep}||{sep}) AS syms, cnt
          FROM {prev})
  ) GROUP BY l, r ORDER BY n DESC, l, r LIMIT 1
)""")
        if i < n_merges:
            ctes.append(f"""s{i} AS MATERIALIZED (
  SELECT cnt, replace(s,
      (SELECT {sep}||l||{sep}||{sep}||r||{sep} FROM r{i}),
      (SELECT {sep}||l||r||{sep} FROM r{i})) AS s
  FROM {prev}
)""")
    sel = "\nUNION ALL\n".join(
        f'SELECT CAST({i} AS INT) AS rank, l AS "left", r AS "right",'
        f" l||r AS merged, n AS pair_count FROM r{i}"
        for i in range(1, n_merges + 1)
    )
    ctes.append(f"rules AS (\n{sel}\n)")
    return ",\n".join(ctes)


def bpe_train_sql(
    n_merges: int = 30, vocab_top: int = 2000, table: str = "documents"
) -> str:
    """DuckDB oracle for :func:`bpe_train`'s merge table."""
    return (
        "WITH "
        + _bpe_rules_ctes(n_merges, vocab_top, table)
        + "\nSELECT * FROM rules ORDER BY rank"
    )


def _bpe_wordtok_ctes(
    n_merges: int = 30, vocab_top: int = 2000, table: str = "documents"
) -> str:
    """Rules chain + (dw, encw, wtok): every DISTINCT corpus word
    encoded once with the learned rules in rank order (nested
    replace()), yielding ``wtok(word, t)`` with t = subword token
    count (= half the separator count of the encoded form)."""
    sep = "chr(1)"
    wrapped = (
        f"{sep} || array_to_string("
        f"list_append(list_transform(range(1, length(word)+1),"
        f" i -> substr(word, CAST(i AS INT), 1)), '{END_OF_WORD}'),"
        f" {sep}||{sep}) || {sep}"
    )
    enc = wrapped
    for i in range(1, n_merges + 1):
        enc = (
            f"replace({enc},\n"
            f"  (SELECT {sep}||l||{sep}||{sep}||r||{sep} FROM r{i}),\n"
            f"  (SELECT {sep}||l||r||{sep} FROM r{i}))"
        )
    return (
        _bpe_rules_ctes(n_merges, vocab_top, table)
        + f""",
dw AS MATERIALIZED (
  SELECT DISTINCT unnest(ws) AS word FROM toks
),
encw AS MATERIALIZED (
  SELECT word, {enc} AS s FROM dw
),
wtok AS MATERIALIZED (
  SELECT word,
         CAST((length(s) - length(replace(s, {sep}, ''))) // 2 AS BIGINT) AS t
  FROM encw
)"""
    )


def bpe_encode_stats_sql(
    n_merges: int = 30, vocab_top: int = 2000, table: str = "documents"
) -> str:
    """DuckDB oracle for :func:`bpe_encode_stats` (per-doc word/symbol/
    token counts + siground-rounded compression). Distinct words are
    encoded ONCE, then joined back to the per-doc word list — same
    answer as the engine's per-doc fold, far less replay."""
    from dataframeutils_spark.schema import siground_sql

    comp = siground_sql("n_symbols * 1.0 / n_tokens")
    return f"""
WITH {_bpe_wordtok_ctes(n_merges, vocab_top, table)},
docw AS (
  SELECT doc_id, unnest({_tokens_sql("lower(text)")}) AS word FROM {table}
),
agg AS (
  SELECT d.doc_id,
         CAST(count(*) AS BIGINT) AS n_words,
         CAST(sum(length(d.word) + 1) AS BIGINT) AS n_symbols,
         CAST(sum(wtok.t) AS BIGINT) AS n_tokens
  FROM docw d JOIN wtok USING (word)
  GROUP BY d.doc_id
),
-- engine emits EVERY doc (wordless ones with zero counts, NULL ratio)
alldocs AS (
  SELECT doc_id,
         CAST(COALESCE(n_words, 0) AS BIGINT) AS n_words,
         CAST(COALESCE(n_symbols, 0) AS BIGINT) AS n_symbols,
         CAST(COALESCE(n_tokens, 0) AS BIGINT) AS n_tokens
  FROM {table} t LEFT JOIN agg USING (doc_id)
)
SELECT doc_id, n_words, n_symbols, n_tokens,
       CASE WHEN n_tokens > 0 THEN {comp} END AS compression
FROM alldocs
"""
