"""Test-only references for the Arrow text-hashing core
(xmlschema_spark/operators/text.py): the pure-Catalyst HOF derivations
of SimHash and MinHash, which the kernels must match bitwise, and naive
pure-Python readings of the same spec."""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from xmlschema_spark.operators.text import bind1, shingles, tokens


def spec_tokens(s: str) -> list:
    """Java-\\s tokenization: runs of [ \\t\\n\\x0B\\f\\r] collapse to one
    space, spaces are trimmed, split on a space ([''] for empty)."""
    return re.sub("[ \t\n\x0b\f\r]+", " ", s).strip(" ").split(" ")


def spec_simhash_votes(s: str, n_bits: int) -> list:
    """Per-bit majority votes, read naively off the documented spec: bit
    b of token t is bit (b % 4) of hex digit (b // 4) of md5(t)."""
    digests = [hashlib.md5(t.encode()).hexdigest() for t in spec_tokens(s)]
    return [2 * sum((int(h[b // 4], 16) >> (b % 4)) & 1 for h in digests)
            > len(digests) for b in range(n_bits)]


def spec_minhash(s, n_hashes: int = 4, k: int = 3) -> list:
    """[min over word k-shingles of md5('{s}|' || shingle) hex, per
    family]; Nones for NULL text or fewer than k tokens."""
    toks = spec_tokens(s) if s is not None else []
    sh = [" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]
    if not sh:
        return [None] * n_hashes
    return [min(hashlib.md5(f"{f}|{x}".encode()).hexdigest() for x in sh)
            for f in range(n_hashes)]


def minhash_signature(col: Column, n_hashes: int = 4, k: int = 3) -> Column:
    """MinHash over word k-shingles, as a STRUCT column (h0..h{n-1}).
    Each hash family h_s(x) = md5(s || '|' || x); the signature element
    is the lexicographic MIN digest — identical math is expressible in
    any SQL engine (portable oracle), and md5 is uniform enough for
    Jaccard estimation. Extract fields through a Generate barrier
    (F.inline(F.array(sig))) — plain field selects re-inline the tree."""
    def hasher(prefix: str):
        def h(x):
            return F.md5(F.concat(F.lit(prefix), x))
        return h

    def sig_from(sh):
        return F.struct(*[
            F.array_min(F.transform(sh, hasher(f"{s}|"))).alias(f"h{s}")
            for s in range(n_hashes)])

    # bind shingles once; the n_hashes families share the evaluation
    return bind1(shingles(col, k), sig_from)


def _hex_digits(m: Column, n_digits: int) -> Column:
    """First n_digits hex digits of a (lowercase-hex) digest string as an
    array<int> — the PORTABLE bit source for simhash: md5 is identical in
    every engine, and digit extraction is plain substring+base-16 parse
    (DuckDB: strpos('0123456789abcdef', substr(m, p, 1)) - 1)."""
    return F.array(*[F.conv(F.substring(m, p + 1, 1), 16, 10).cast("int")
                     for p in range(n_digits)])


def _band_bit_pred(c: int, mask: int):
    # NOTE: never use default-arg lambdas in Spark HOFs (see
    # text._isin_pred) — bind c/mask through a closure factory instead.
    def pred(d):
        return d.getItem(c).bitwiseAND(mask) != 0
    return pred


def _simhash_fold(col: Column, n_bits: int, pack) -> Column:
    """Shared SimHash pipeline: tokens -> per-token md5 hex-digit arrays
    (bound ONCE - the per-bit folds share the evaluation) -> per-bit
    majority vote. Bit b of token t is bit (b % 4) of hex digit (b // 4)
    of md5(t) - exactly reproducible in any SQL engine (the DuckDB
    oracles replicate it with list comprehensions), unlike xxhash64.
    `pack(bit_cols)` shapes the n_bits majority-vote booleans into the
    output column."""
    def fold(dgs):                       # array<array<int>>, one per token
        n = F.size(dgs)
        bits = []
        for b in range(n_bits):
            c, mask = b // 4, 1 << (b % 4)
            ones = F.size(F.filter(dgs, _band_bit_pred(c, mask)))
            bits.append(ones * 2 > n)
        return pack(bits)

    return bind1(
        bind1(tokens(col),
              lambda t: F.transform(
                  t, lambda x: bind1(F.md5(x),
                                     lambda m: _hex_digits(m,
                                                           n_bits // 4)))),
        fold)


def simhash48(col: Column) -> Column:
    """48-bit SimHash over whitespace tokens (portable md5 bit source -
    see _simhash_fold). 48 bits (12 hex digits) keeps every
    intermediate in positive bigint range on both sides (no
    signed-overflow edge at bit 63)."""
    def pack(bits):
        out = F.lit(0).cast("bigint")
        for b, is_one in enumerate(bits):
            out = out.bitwiseOR(
                F.when(is_one, F.lit(1 << b).cast("bigint"))
                 .otherwise(F.lit(0).cast("bigint")))
        return out

    return _simhash_fold(col, 48, pack)


def simhash64_pair(col: Column) -> Column:
    """64-bit SimHash as a (hi32, lo32) struct - for parity with
    external 64-bit SimHash systems while keeping every intermediate in
    positive-bigint range on ANY engine (a single signed 64-bit value
    can't carry bit 63 portably; the two-column split can, and users
    reassemble hi*2^32 + lo where their engine allows it).
    hi32 = bits 32..63, lo32 = bits 0..31, both non-negative bigint."""
    def pack(bits):
        lo = F.lit(0).cast("bigint")
        hi = F.lit(0).cast("bigint")
        for b, is_one in enumerate(bits):
            bit = F.when(is_one, F.lit(1 << (b % 32)).cast("bigint")) \
                   .otherwise(F.lit(0).cast("bigint"))
            if b < 32:
                lo = lo.bitwiseOR(bit)
            else:
                hi = hi.bitwiseOR(bit)
        return F.struct(hi.alias("hi32"), lo.alias("lo32"))

    return _simhash_fold(col, 64, pack)
