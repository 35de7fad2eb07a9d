"""Byte-pair-encoding subword tokenizer: distributed training + application.

The pipeline's token accounting so far (``text.token_count_col``,
``bpe_ish_token_count_col``) is regex-shaped; real corpus budgeting,
packing, and dedup-by-token want an actual trained subword vocabulary.
BPE (Sennrich et al. 2016; the GPT-2 tokenizer family) trains by
repeatedly merging the most frequent adjacent symbol pair — and the key
scale fact is that training NEVER needs the corpus, only the WORD
FREQUENCY TABLE: Zipf bounds distinct words far below corpus size, so

    corpus (100 TB)  --explode+groupBy-->  word freqs (vocabulary-sized)
                     --TakeOrdered cap--> top-V table (bounded collect)
                     --driver BPE loop--> merges (a few thousand rows)

is one linear aggregation plus a driver loop over a small dict — the
same bounded-collect pattern as IVF centroid training and the members
cache. Application (encode every document) broadcasts the merge ranks
into an Arrow-batched ``pandas_udf`` with per-batch word memoization
(Zipf again: a batch's distinct words are few), never a per-row Python
UDF.

Oracle story: the training loop is iterative (each merge changes the
next pair count), so it is not expressible as a live DuckDB query — but
it IS a pure function of the (bit-exactly-oracled) word-frequency
table, so on fixed testdata the merges are constants.
:func:`merges_oracle_sql` pins them as fingerprint-keyed VALUES
(generated by ``scripts/gen_bpe_pins.py`` from an independent
duckdb-read + pure-Python path), making ``q_bpe_merges`` a full
rows+schema+hash oracle entry. The reference-implementation tier
remains the deeper evidence (like the streaming stream≡batch proofs): a
pure-Python BPE (independent code path) must agree with the Spark
explode/groupBy training and the pandas_udf encoding on every document,
plus hand-checked merges on a known corpus and unicode fuzz.

Determinism: pair-count ties break on the lexicographically smallest
pair; word-cap ties on (count desc, word asc). Training is therefore a
pure function of the frequency table — same merges on every run,
cluster size, or partitioning.
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .text import _TOKEN_SPLIT

#: default cap on the word-frequency table collected for training; Zipf
#: puts the mass far below this, and the cap bounds driver memory no
#: matter the corpus (IVF sample-cap precedent)
MAX_TRAIN_WORDS = 100_000


def word_frequency_table(
    df: DataFrame, text_col: str = "text", max_words: int = MAX_TRAIN_WORDS
) -> DataFrame:
    """The bounded training input as a DataFrame: top-``max_words``
    ``(w, n)`` rows by (count desc, word asc) — one explode + one
    map-side-combined groupBy, TakeOrdered semantics via orderBy+limit.
    This is the DISTRIBUTED half of BPE training and, unlike the merge
    loop, it IS SQL-expressible — the ``q_bpe_word_freqs`` catalog entry
    oracle-gates it, so the driver-side loop (a pure function of this
    table) trains on externally-verified input."""
    return (
        df.select(
            F.explode(
                F.split(F.lower(F.trim(F.col(text_col))), _TOKEN_SPLIT)
            ).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("w").asc())
        .limit(max_words)
    )


def word_frequencies(
    df: DataFrame, text_col: str = "text", max_words: int = MAX_TRAIN_WORDS
) -> list[tuple[str, int]]:
    """Collected form of :func:`word_frequency_table` (bounded by
    ``max_words`` — never a full-corpus collect)."""
    return [
        (r.w, r.n) for r in word_frequency_table(df, text_col, max_words).collect()
    ]


def _merge_word(
    word: tuple[str, ...], pair: tuple[str, str]
) -> tuple[str, ...]:
    """Replace every non-overlapping occurrence of ``pair`` left-to-right."""
    a, b = pair
    out: list[str] = []
    i = 0
    while i < len(word):
        if i + 1 < len(word) and word[i] == a and word[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(word[i])
            i += 1
    return tuple(out)


def train_bpe_from_freqs(
    freqs: list[tuple[str, int]], n_merges: int
) -> list[tuple[str, str]]:
    """Classic BPE training loop over a word-frequency dict (driver-side;
    the dict is vocabulary-sized). Returns merges in rank order."""
    words: dict[tuple[str, ...], int] = {}
    for w, c in freqs:
        words[tuple(w)] = words.get(tuple(w), 0) + c
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for word, c in words.items():
            for a, b in zip(word, word[1:]):
                pairs[(a, b)] += c
        if not pairs:
            break
        # deterministic: highest count, ties to the lexicographically
        # smallest pair
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        words = {
            _merge_word(word, best): c for word, c in words.items()
        }
    return merges


def train_bpe(
    df: DataFrame,
    n_merges: int = 200,
    text_col: str = "text",
    max_words: int = MAX_TRAIN_WORDS,
) -> list[tuple[str, str]]:
    """Train ``n_merges`` BPE merges on the corpus (see module doc for the
    scale argument: one aggregation + a driver loop over the bounded
    frequency table)."""
    return train_bpe_from_freqs(
        word_frequencies(df, text_col, max_words), n_merges
    )


def encode_word(
    word: str, ranks: dict[tuple[str, str], int]
) -> tuple[str, ...]:
    """Encode one word with trained merge ranks: repeatedly merge the
    lowest-rank adjacent pair (all its occurrences), the standard GPT-2
    procedure. A word seen in training with enough merges reproduces its
    training-time segmentation."""
    syms: tuple[str, ...] = tuple(word)
    while len(syms) > 1:
        ranked = [
            (ranks[p], p)
            for p in set(zip(syms, syms[1:]))
            if p in ranks
        ]
        if not ranked:
            break
        _, best = min(ranked)
        syms = _merge_word(syms, best)
    return syms


def bpe_tokenize(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """``(doc_id, bpe_tokens array<string>, n_bpe_tokens)`` for every
    document. Arrow-batched ``pandas_udf`` with per-batch word
    memoization — the merge ranks ride the closure (a few thousand
    entries, serialized once per executor), the corpus never shuffles."""
    ranks = {p: i for i, p in enumerate(merges)}

    # the UDF closure must be SELF-CONTAINED (nested defs + captured data
    # only, package convention): cloudpickle serializes references to
    # module-level functions by module path, which breaks on executors
    # that import the package from a different location than the driver
    @pandas_udf("array<string>")
    def encode_series(texts: pd.Series) -> pd.Series:
        cache: dict[str, tuple[str, ...]] = {}

        def merge_all(word, pair):
            a, b = pair
            out, i = [], 0
            while i < len(word):
                if i + 1 < len(word) and word[i] == a and word[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(word[i])
                    i += 1
            return tuple(out)

        def enc_word(w):
            syms = tuple(w)
            while len(syms) > 1:
                ranked = [
                    (ranks[p], p)
                    for p in set(zip(syms, syms[1:]))
                    if p in ranks
                ]
                if not ranked:
                    break
                syms = merge_all(syms, min(ranked)[1])
            return syms

        def enc(text):
            out = []
            for w in (text or "").lower().split():
                got = cache.get(w)
                if got is None:
                    got = enc_word(w)
                    cache[w] = got
                out.extend(got)
            return out

        return texts.map(enc)

    return df.select(
        F.col(id_col).alias("doc_id"),
        encode_series(F.col(text_col)).alias(out_col),
    ).withColumn("n_bpe_tokens", F.size(F.col(out_col)))


def merges_table(spark, merges: list[tuple[str, str]]) -> DataFrame:
    """The trained merges as a tiny DataFrame artifact: one row per merge in
    rank order — the driver-visible form of the training result (the
    ``q_bpe_merges`` catalog entry). Deterministic: training is a pure
    function of the oracle-gated frequency table (module doc)."""
    from ..session import local_df

    return local_df(
        spark,
        [(i, a, b, a + b) for i, (a, b) in enumerate(merges)],
        "rank INT, left STRING, right STRING, token STRING",
    )


def merges_oracle_sql() -> str:
    """DuckDB oracle for ``q_bpe_merges`` (VERDICT r9 #1): the merge loop
    is a pure function of the bit-exactly-oracled word-frequency table
    (module doc), so on fixed testdata the trained merges are CONSTANTS —
    pinned per corpus fingerprint in :mod:`bpe_pins` (regenerate with
    ``scripts/gen_bpe_pins.py``; the r2 deterministic-hyperplane
    precedent). The SQL keys the pinned VALUES on md5 of the documents
    corpus, so this one string is correct at every sf dir; an unknown
    corpus matches nothing → zero rows → a loud row-count mismatch,
    never a silent pass."""
    from .bpe_pins import PINNED_MERGES

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    rows = ",\n      ".join(
        f"({q(fp)}, {i}, {q(a)}, {q(b)})"
        for fp, merges in PINNED_MERGES.items()
        for i, (a, b) in enumerate(merges)
    )
    return f"""
    WITH fp AS (
      SELECT md5(string_agg(text, chr(1) ORDER BY doc_id)) AS h
      FROM documents
    ),
    pins(h, rank, a, b) AS (VALUES
      {rows}
    )
    SELECT CAST(pins.rank AS INT) AS rank,
           pins.a AS "left", pins.b AS "right",
           pins.a || pins.b AS token
    FROM pins JOIN fp ON pins.h = fp.h
    ORDER BY rank
    """
