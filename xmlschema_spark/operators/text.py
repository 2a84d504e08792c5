"""Text-analysis operators for training-data pipelines (SURVEY.md scope
extension): token counting, quality scoring, language-ID heuristic,
shingling and whole-document fingerprints as Catalyst expressions, plus
the one Arrow text-hashing core that SimHash and MinHash run on
(simhash48_fast, simhash64_fast, minhash_signatures)."""

from __future__ import annotations

import hashlib
import re
import sys
from functools import partial

import numpy as np
from pyspark import cloudpickle
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword lists for the n-gram/stopword heuristic
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to"],
    "fr": ["le", "la", "de", "et", "un"],
    "de": ["der", "die", "das", "und", "ein"],
    "es": ["el", "la", "de", "y", "un"],
}

# BPE-ish token regex: word pieces, numbers, or single punctuation marks
TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bind1(expr: Column, fn) -> Column:
    """Evaluate `expr` ONCE per row and pass it to fn as a bound lambda
    variable: element_at(transform(array(expr), x -> fn(x)), 1).

    Catalyst inlines outer-column references inside higher-order-function
    lambdas, so an expression like transform(seq, i -> f(tokens(text), i))
    re-evaluates tokens() PER ELEMENT (measured: 4.5ms/doc -> O(n^2) in
    tokens). Wrapping in a 1-element array makes it a lambda variable,
    which is evaluated exactly once."""
    return F.element_at(F.transform(F.array(expr), fn), 1)


def tokens(col: Column) -> Column:
    """Whitespace tokenization of collapsed text."""
    return F.split(F.trim(F.regexp_replace(col, r"\s+", " ")), " ")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column) -> Column:
    """Sub-word-ish count: letters runs + digit runs + punctuation marks."""
    return F.size(F.regexp_extract_all(col, F.lit(TOKEN_RE), 0))


def punct_ratio(col: Column) -> Column:
    n_punct = F.length(col) - F.length(F.regexp_replace(col, r"[^\w\s]", ""))
    return F.when(F.length(col) > 0, n_punct / F.length(col)).otherwise(0.0)


def _isin_pred(words: list[str]):
    # NOTE: never use default-arg lambdas (lambda t, w=words: ...) in
    # Spark HOFs — the extra parameter makes PySpark pass the array INDEX
    # as the second argument, silently clobbering the default.
    def pred(t):
        return t.isin(*words)
    return pred


def stopword_count(col: Column, lang: str = "en") -> Column:
    toks = tokens(F.lower(col))
    return F.size(F.filter(toks, _isin_pred(STOPWORDS[lang])))


def stopword_ratio(col: Column, lang: str = "en") -> Column:
    n = token_count(col)
    return F.when(n > 0, stopword_count(col, lang) / n).otherwise(0.0)


def quality_score(col: Column, lang: str = "en") -> Column:
    """Composite quality in [0,1]: length band + low punctuation +
    stopword presence (heuristics in the C4/Gopher tradition)."""
    n = token_count(col)
    len_ok = F.when((n >= 10) & (n <= 1000), 1.0).otherwise(0.0)
    punct_ok = F.when(punct_ratio(col) <= 0.2, 1.0).otherwise(0.0)
    stop_ok = F.when(stopword_ratio(col, lang) >= 0.01, 1.0).otherwise(0.0)
    return (len_ok + punct_ok + stop_ok) / 3.0


def lang_guess(col: Column) -> Column:
    """Stopword-vote language guess: the language with the most stopword
    hits wins; ties broken by fixed language order (deterministic)."""
    toks = tokens(F.lower(col))
    scores = []
    for lang in ("en", "fr", "de", "es"):
        scores.append(
            F.struct(F.size(F.filter(toks, _isin_pred(STOPWORDS[lang])))
                     .alias("score"),
                     F.lit({"en": 3, "fr": 2, "de": 1, "es": 0}[lang])
                     .alias("prio"),
                     F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*scores))
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("unknown"))


def fingerprint(col: Column) -> Column:
    """Whole-document fingerprint: md5 of whitespace-collapsed text
    (reference analog: canonical lexical form before equality checks,
    simple_types.py:447-463)."""
    return F.md5(F.trim(F.regexp_replace(col, r"\s+", " ")))


def shingles_from_tokens(toks: Column, k: int = 3) -> Column:
    """Word k-shingles from an already-bound token array.

    Guard: Spark's sequence(1, 0) yields a DESCENDING [1, 0], not an
    empty array, and ANSI element_at throws on out-of-range — so texts
    shorter than k tokens must short-circuit to an empty array (matches
    SQL generate_series semantics, where 1..0 is empty)."""
    n = F.size(toks)
    idx = F.sequence(F.lit(1), n - (k - 1))
    sh = F.transform(
        idx, lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + j).cast("int")) for j in range(k)]))
    return F.when(n >= k, sh).otherwise(F.expr("CAST(array() AS array<string>)"))


def shingles(col: Column, k: int = 3) -> Column:
    """Word k-shingles as an array of strings (dedup building block)."""
    return bind1(tokens(col), lambda t: shingles_from_tokens(t, k))


# ---------------------------------------------------------------------------
# The Arrow text-hashing core. simhash48_fast, simhash64_fast and
# minhash_signatures run one mapInArrow scaffold (_text_hash_frame) over
# one tokenizer (split_tokens) and one bounded per-task digest cache
# (_DigestCache). This module pickles by value, so the Python workers run
# the kernels without importing the package.
# ---------------------------------------------------------------------------

cloudpickle.register_pickle_by_value(sys.modules[__name__])

# per-task digest cache bound (keys), both kernels. An entry is one table
# row (64 B: 64 bit bytes, or 4 x 16 digest bytes at n_hashes=4) plus its
# key string and dict slot: ~220 B with a 15-char key (tracemalloc, 200k
# entries, table slack included), so ~230 MB per worker at the cap
_TEXT_HASH_CACHE_MAX = 1 << 20

_JAVA_WS = re.compile("[ \t\n\x0b\f\r]+")


def split_tokens(s: str) -> list:
    """Python twin of tokens(). Java \\s is [ \\t\\n\\x0B\\f\\r], not
    unicode-aware (NBSP is a token character); runs collapse to one
    space, trim strips spaces only, and the split on one space keeps
    empty strings ([''] for empty input)."""
    return _JAVA_WS.sub(" ", s).strip(" ").split(" ")


def _md5_rows(keys: list, prefixes=(b"",)):
    """(len(keys), len(prefixes), 16) uint8: md5(prefix || utf-8 key)."""
    raw = b"".join(hashlib.md5(p + k.encode("utf-8")).digest()
                   for k in keys for p in prefixes)
    return np.frombuffer(raw, np.uint8).reshape(len(keys), len(prefixes), 16)


class _DigestCache:
    """Bounded per-task cache, key -> row of one digest table. Token and
    shingle streams repeat heavily, so a kernel derives rows only for
    the keys it has not seen.

    Two generations of at most cap // 2 keys each. lookup() makes every
    key of a batch resident in the young generation (rows of old-
    generation hits are copied, the rest derived), so one gather
    table[idx] serves the batch. When the young generation would
    overflow, the old one is dropped and the young one ages into its
    place, so hot keys survive. The young table grows by doubling. A
    batch with more than cap // 2 distinct keys is derived whole,
    without caching."""

    def __init__(self, derive, cap: int = _TEXT_HASH_CACHE_MAX):
        self.derive, self.half = derive, max(1, cap // 2)
        self.young: dict = {}
        self.old: dict = {}
        self.table = self.old_table = None

    def __len__(self) -> int:
        return len(self.young) + len(self.old)

    def lookup(self, keys: list):
        """(table, idx) with table[idx[i]] the digest row of keys[i]."""
        uniq = list(dict.fromkeys(keys))
        if len(uniq) > self.half:
            pos = dict(zip(uniq, range(len(uniq))))
            return self.derive(uniq), np.fromiter(
                map(pos.__getitem__, keys), np.int64, len(keys))
        miss = [k for k in uniq if k not in self.young]
        if len(self.young) + len(miss) > self.half:
            self.old, self.old_table = self.young, self.table
            self.young, self.table = {}, None
            miss = uniq
        if miss:
            hits = [k for k in miss if k in self.old]
            fresh = [k for k in miss if k not in self.old]
            rows = self.derive(fresh)
            if hits:
                rows = np.concatenate(
                    [self.old_table[[self.old[k] for k in hits]], rows])
            self._append(hits + fresh, rows)
        return self.table, np.fromiter(
            map(self.young.__getitem__, keys), np.int64, len(keys))

    def _append(self, keys: list, rows) -> None:
        n, need = len(self.young), len(self.young) + len(keys)
        if self.table is None or need > len(self.table):
            size = 1024 if self.table is None else len(self.table)
            while size < need:
                size *= 2
            grown = np.empty((min(size, self.half),) + rows.shape[1:],
                             rows.dtype)
            if n:
                grown[:n] = self.table[:n]
            self.table = grown
        self.table[n:need] = rows
        self.young.update(zip(keys, range(n, need)))


def _key_stream(texts: list, keys_of):
    """A batch as one key stream (keys, ptr, live): keys_of(tokens) of
    the r-th text that has any keys is keys[ptr[r]:ptr[r + 1]], and
    live[r] is its batch row. NULL texts have no keys."""
    keys: list = []
    ptr, live = [0], []
    for j, s in enumerate(texts):
        if s is not None:
            ks = keys_of(split_tokens(s))
            if ks:
                keys += ks
                ptr.append(len(keys))
                live.append(j)
    return keys, np.asarray(ptr, np.int64), live


def _simhash_rows(keys: list, n_bits: int):
    """(len(keys), n_bits) uint8 bit rows: bit b of key t is bit (b % 4)
    of hex digit (b // 4) of md5(t)."""
    by = _md5_rows(keys)[:, 0, :n_bits // 8]
    digits = np.empty((len(keys), n_bits // 4), np.uint8)
    digits[:, 0::2] = by >> 4
    digits[:, 1::2] = by & 15
    return ((digits[:, :, None] >> np.arange(4, dtype=np.uint8)) & 1) \
        .reshape(len(keys), n_bits)


def simhash_bits(texts: list, n_bits: int, cache=None):
    """The SimHash bit expansion of one batch: a (len(texts), n_bits)
    bool matrix of per-bit majority votes over each text's
    split_tokens, where bit b of token t is bit (b % 4) of hex digit
    (b // 4) of md5(t). The math is engine-portable (the DuckDB oracles
    replay it). NULL text votes all False (hash 0); empty or
    whitespace-only text is the hash of ['']."""
    if cache is None:
        cache = _DigestCache(partial(_simhash_rows, n_bits=n_bits))
    keys, ptr, live = _key_stream(texts, lambda t: t)
    out = np.zeros((len(texts), n_bits), bool)
    if keys:
        table, idx = cache.lookup(keys)
        ones = np.add.reduceat(table[idx], ptr[:-1], axis=0, dtype=np.int64)
        out[live] = ones * 2 > np.diff(ptr)[:, None]
    return out


def _minhash_rows(keys: list, n_hashes: int):
    """(len(keys), n_hashes, 2) uint64: the big-endian halves of
    md5('{s}|' || key), so (hi, lo) order is the digest's byte order."""
    prefixes = [f"{s}|".encode("utf-8") for s in range(n_hashes)]
    return _md5_rows(keys, prefixes).view(">u8").astype(np.uint64)


def minhash_hex(texts: list, n_hashes: int, k: int, cache) -> list:
    """MinHash of one batch, one list per hash family s: the lowercase
    hex of the min over the text's word k-shingles of md5('{s}|' ||
    shingle). The hex min is the byte-wise digest min (hex encoding
    preserves order). NULL text, or fewer than k tokens, is None, like
    array_min over an empty shingle set. `cache` is a _DigestCache of
    _minhash_rows at n_hashes."""
    keys, ptr, live = _key_stream(
        texts, lambda t: [" ".join(t[i:i + k]) for i in range(len(t) - k + 1)])
    out = [[None] * len(texts) for _ in range(n_hashes)]
    if keys:
        table, idx = cache.lookup(keys)
        d = table[idx]
        starts, counts = ptr[:-1], np.diff(ptr)
        hi = np.minimum.reduceat(d[..., 0], starts)
        tie = d[..., 0] == np.repeat(hi, counts, axis=0)
        lo = np.minimum.reduceat(
            np.where(tie, d[..., 1], np.iinfo(np.uint64).max), starts)
        hexes = np.stack([hi, lo], -1).astype(">u8").tobytes().hex()
        for r, j in enumerate(live):
            for s in range(n_hashes):
                o = (r * n_hashes + s) * 32
                out[s][j] = hexes[o:o + 32]
    return out


def _text_hash_frame(df: DataFrame, text_col: str, keep_cols,
                     out_types: dict, derive, kernel) -> DataFrame:
    """The one scaffold of the text-hash kernels: a mapInArrow over the
    narrow (keep_cols, text_col) projection that passes keep_cols
    through and appends the out_types columns (name -> Spark type).
    kernel(texts, cache) maps a batch's texts (str or None) to one Arrow
    array per output column; cache is the task's _DigestCache of
    derive, kept across the task's batches."""
    from ..distribute import ensure_distributed, worker_kernel
    ensure_distributed(df.sparkSession)
    keep = list(keep_cols)
    narrow = df.select(*dict.fromkeys(keep + [text_col]))
    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}"
         for f in narrow.schema.fields if f.name in keep]
        + [f"{n} {t}" for n, t in out_types.items()])

    @worker_kernel
    def run(batches):
        import pyarrow as pa
        cache = _DigestCache(derive)
        for b in batches:
            outs = kernel(b.column(text_col).to_pylist(), cache)
            yield pa.record_batch([b.column(k) for k in keep] + outs,
                                  names=keep + list(out_types))

    return narrow.mapInArrow(run, out_schema)


def _simhash_frame(df: DataFrame, text_col: str, keep_cols, n_bits: int,
                   names: list) -> DataFrame:
    """SimHash kernel: `names` split the n_bits vote bits into equal
    non-negative bigint chunks, most significant first."""
    width = n_bits // len(names)
    shifts = np.int64(1) << np.arange(width, dtype=np.int64)

    def kernel(texts, cache):
        import pyarrow as pa
        w = simhash_bits(texts, n_bits, cache).astype(np.int64)
        return [pa.array(w[:, lo:lo + width] @ shifts)
                for lo in range(n_bits - width, -1, -width)]

    return _text_hash_frame(df, text_col, keep_cols,
                            dict.fromkeys(names, "bigint"),
                            partial(_simhash_rows, n_bits=n_bits), kernel)


def simhash64_fast(df: DataFrame, text_col: str,
                   *keep_cols: str) -> DataFrame:
    """64-bit SimHash (simhash_bits) as `keep_cols + (hi32, lo32)`:
    hi32 = bits 32..63, lo32 = bits 0..31, both non-negative bigint, so
    every value stays in positive range on any engine (reassemble
    hi32 * 2^32 + lo32 where the engine allows it)."""
    return _simhash_frame(df, text_col, keep_cols, 64, ["hi32", "lo32"])


def simhash48_fast(df: DataFrame, text_col: str,
                   *keep_cols: str) -> DataFrame:
    """48-bit SimHash (simhash_bits) as `keep_cols + sh48`, one
    non-negative bigint: 48 bits keep every intermediate in positive
    range on any engine."""
    return _simhash_frame(df, text_col, keep_cols, 48, ["sh48"])


def minhash_signatures(df: DataFrame, text_col: str, id_col: str,
                       n_hashes: int = 4, k: int = 3) -> DataFrame:
    """(id, h0..h{n-1}) MinHash signature table (minhash_hex): h_s =
    min over word k-shingles of md5('{s}|' || shingle), lowercase hex;
    NULL for NULL text or fewer than k tokens. The DuckDB oracle replays
    it verbatim."""
    def kernel(texts, cache):
        import pyarrow as pa
        return [pa.array(c, pa.string())
                for c in minhash_hex(texts, n_hashes, k, cache)]

    return _text_hash_frame(df, text_col, [id_col],
                            {f"h{s}": "string" for s in range(n_hashes)},
                            partial(_minhash_rows, n_hashes=n_hashes), kernel)
