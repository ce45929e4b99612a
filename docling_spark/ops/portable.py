"""Engine-portable hashing / tokenization primitives.

Exact-integer constructs expressible identically in Spark SQL and DuckDB SQL,
so dedup/minhash/fingerprint queries can be verified against a DuckDB oracle
bit-for-bit (no engine-specific hash like xxhash64/murmur3 in the compared
path). Every helper returns BOTH dialect strings; the Spark side is used via
`F.expr`, the DuckDB side is assembled into `oracle_sql()`.

The shingle MinHash has a third form, `minhash_numpy`: the same integers
from int64 array operations over one Arrow batch of texts, which
`ops.dedup.minhash_signature` runs in a Python Arrow map. The SQL forms'
lambdas run interpreted in Spark (`CodegenFallback`), once per character.

Token hash: polynomial codepoint hash h(t) = fold(31·acc + codepoint) mod P.
MinHash permutations: (aᵢ·h + bᵢ) mod P — universal hashing per Broder '97
(public construction).
"""

from __future__ import annotations

from typing import Tuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

MOD = 1_000_000_007

# deterministic permutation constants (seeded once; committed as literals so
# both engines and every run agree)
MINHASH_A = [7919, 104729, 15485863, 32452843, 49979687, 67867967, 86028121,
             13082, 25997, 40993, 57037, 75029, 93911, 11261, 28349, 47417]
MINHASH_B = [104743, 15485867, 32452867, 49979693, 67867979, 86028157, 7927,
             13171, 26003, 41011, 57059, 75079, 93913, 11273, 28351, 47431]

# whitespace tokenization of a text column — identical semantics both engines
def tokens_spark(col: str) -> str:
    return f"split(trim({col}), '\\\\s+')"


def tokens_duck(col: str) -> str:
    return f"regexp_split_to_array(trim({col}), '\\s+')"


# polynomial codepoint hash of one token expression, with a final
# multiplicative scramble (Knuth constant): the raw fold is tiny for short
# tokens ('a' → 97), which would wreck minhash uniformity — one multiply
# mod P spreads values across the full range. Overflow-safe: fold < P ≈ 1e9,
# 1e9 · 2654435761 ≈ 2.7e18 < int64 max.
_MIX = 2654435761


def token_hash_spark(tok: str) -> str:
    return (
        f"(aggregate(split({tok}, ''), 0L, "
        f"(acc, c) -> (acc * 31 + ascii(c)) % {MOD}) * {_MIX}L) % {MOD}"
    )


def token_hash_duck(tok: str) -> str:
    return (
        f"(list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(split({tok}, ''), c -> CAST(unicode(c) AS BIGINT))), "
        f"(acc, c) -> (acc * 31 + c) % {MOD}) * {_MIX}) % {MOD}"
    )


# array of token hashes for a text column
def token_hashes_spark(col: str) -> str:
    return f"transform({tokens_spark(col)}, t -> {token_hash_spark('t')})"


def token_hashes_duck(col: str) -> str:
    return f"list_transform({tokens_duck(col)}, t -> {token_hash_duck('t')})"


# minhash signature element i over an array-of-hashes expression
def minhash_spark(hashes: str, i: int) -> str:
    a, b = MINHASH_A[i], MINHASH_B[i]
    return (
        f"array_min(transform({hashes}, h -> ({a}L * h + {b}L) % {MOD}))"
    )


def minhash_duck(hashes: str, i: int) -> str:
    a, b = MINHASH_A[i], MINHASH_B[i]
    return (
        f"list_min(list_transform({hashes}, "
        f"h -> ({a}::BIGINT * h + {b}::BIGINT) % {MOD}))"
    )


# rolling document fingerprint over token hashes (order-sensitive)
def fingerprint_spark(col: str) -> str:
    return (
        f"aggregate({token_hashes_spark(col)}, 0L, "
        f"(acc, h) -> (acc * 131 + h) % {MOD})"
    )


def fingerprint_duck(col: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), {token_hashes_duck(col)}), "
        f"(acc, h) -> (acc * 131 + h) % {MOD})"
    )


# hashes of word n-gram shingles — the minhash feature set (Broder '97
# shingling: minhash MUST run over the same features the verify join
# compares, else banding selectivity decouples from true similarity)
def shingle_hashes_duck(col: str, n: int) -> str:
    return f"list_transform({ngrams_duck(col, n)}, g -> {token_hash_duck('g')})"


def ngrams_all_from_tokens_spark(toks_col: str, n: int) -> str:
    """Non-deduplicated n-gram list over a token-array column — for
    frequency/repetition statistics (the distinct form is for set Jaccard)."""
    return (
        f"transform(slice(sequence(1, size({toks_col})), 1, "
        f"greatest(size({toks_col}) - {n - 1}, 0)), "
        f"i -> array_join(slice({toks_col}, i, {n}), ' '))"
    )


def ngrams_all_from_tokens_duck(toks_col: str, n: int) -> str:
    return (
        f"list_transform(range(1, greatest(len({toks_col}) - {n - 1}, 0) + 1), "
        f"i -> array_to_string(list_slice({toks_col}, i, i + {n - 1}), ' '))"
    )


def ngrams_from_tokens_spark(toks_col: str, n: int) -> str:
    """Distinct word n-grams (shingles, for near-dup Jaccard) over a
    pre-materialized token-array COLUMN: slide over the tokens, join with a
    single space. The column reference is evaluated once per row, so this is
    O(tokens). Spark's sequence(1, 0) generates DESCENDING [1, 0], so the
    window count is imposed by slice(), not by the sequence stop; otherwise a
    doc with fewer than n tokens crashes slice() with index 0."""
    return (
        f"array_distinct(transform(slice(sequence(1, size({toks_col})), 1, "
        f"greatest(size({toks_col}) - {n - 1}, 0)), "
        f"i -> array_join(slice({toks_col}, i, {n}), ' ')))"
    )


def ngrams_duck(col: str, n: int) -> str:
    return (
        f"list_distinct(list_transform(range(1, greatest(len({tokens_duck(col)}) - {n - 1}, 0) + 1), "
        f"i -> array_to_string(list_slice({tokens_duck(col)}, i, i + {n - 1}), ' ')))"
    )


# --- numpy form of the shingle MinHash --------------------------------------
# `tokens_spark` → `ngrams_from_tokens_spark` → `token_hash_spark` →
# `minhash_spark`, value for value, over one Arrow batch of texts. Spark's
# `trim` strips ASCII spaces only; its split regex `\s+` is Java's
# `[ \t\n\x0b\f\r]+` and keeps leading/trailing empty tokens.
_JAVA_SPACE = "[ \t\n\x0b\f\r]+"


def _pow31(n: int) -> np.ndarray:
    """31^k mod P for k < n, by doubling (every product stays < P² < 2^63)."""
    out = np.ones(1, np.int64)
    while len(out) < n:
        out = np.concatenate((out, out * pow(31, len(out), MOD) % MOD))
    return out[:n]


def minhash_numpy(texts: pa.Array, n_hashes: int, shingle_n: int
                  ) -> Tuple[np.ndarray, np.ndarray]:
    """(mins, has): `mins[i, r]` is `minhash_spark(…, i)` of row r's
    `shingle_n`-word shingles, valid where `has[r]` (false for a null text or
    fewer than `shingle_n` tokens).

    Each distinct token of the batch is folded once, over its code points:
    fold(t) = Σ cpₖ·31^(|t|-1-k) mod P. A shingle's fold is composed from its
    tokens' folds, fold(a‖b) = fold(a)·31^|b| + fold(b) mod P, with the
    joining space (code point 32) as a one-character part. Duplicate
    shingles cannot change a minimum, so none are removed."""
    toks = pc.split_pattern_regex(pc.utf8_trim(texts, characters=" "),
                                  pattern=_JAVA_SPACE)
    counts = pc.list_value_length(toks).fill_null(0).to_numpy().astype(np.int64)
    enc = pc.dictionary_encode(toks.flatten())
    tid = enc.indices.to_numpy().astype(np.int64)
    words = enc.dictionary
    lens = pc.utf8_length(words).to_numpy().astype(np.int64)
    pows = _pow31(int(lens.max(initial=0)) + 1)
    # fold of each distinct token: one weighted sum per token over its code points
    cps = np.frombuffer("".join(words.to_pylist()).encode("utf-32-le"), np.uint32)
    ends = np.cumsum(lens)
    from_end = np.repeat(ends - 1, lens) - np.arange(len(cps))
    terms = cps.astype(np.int64) * pows[from_end] % MOD
    fold = np.zeros(len(words), np.int64)
    live = lens > 0
    if live.any():
        fold[live] = np.add.reduceat(terms, (ends - lens)[live]) % MOD
    tok_pow = pows[lens]

    # shingle starts: flat token positions with shingle_n - 1 tokens after
    # them in the same row
    n_sh = np.maximum(counts - shingle_n + 1, 0)
    row_start = np.repeat(np.cumsum(counts) - counts, n_sh)
    sh_row_start = np.repeat(np.cumsum(n_sh) - n_sh, n_sh)
    starts = row_start + np.arange(int(n_sh.sum())) - sh_row_start
    acc = fold[tid[starts]]
    for j in range(1, shingle_n):
        t = tid[starts + j]
        acc = ((acc * 31 + 32) % MOD * tok_pow[t] + fold[t]) % MOD
    h = acc * _MIX % MOD

    has = n_sh > 0
    mins = np.zeros((n_hashes, len(counts)), np.int64)
    if has.any():
        seg = (np.cumsum(n_sh) - n_sh)[has]
        for i in range(n_hashes):
            mins[i, has] = np.minimum.reduceat((MINHASH_A[i] * h + MINHASH_B[i]) % MOD, seg)
    return mins, has


# --- 64-bit extension for simhash ------------------------------------------
# The polynomial token hash is mod P ≈ 1e9 (~30 live bits); a 64-bit simhash
# (Manku/Jain/Sarma WWW'07 geometry: 16-bit pigeonhole blocks at k=3) needs
# 64 independent bit votes per token. Four universal-hash limbs
# rᵢ = (Aᵢ·h + Bᵢ) mod P supply 30+30+3+1 bits packed into one signed
# BIGINT (bit 63 enters as the two's-complement literal -2^63, so the packed
# sum never overflows: r1 + r2·2^30 + (r3%8)·2^60 < 2^63).
SIMHASH_EXT_A = [982451653, 57885161, 2996863034, 868687]
SIMHASH_EXT_B = [899809363, 304250263, 20996011, 259002588]
# second independent limb family — the HIGH long of the 128-bit variant
# (two independent 64-bit bit-vote fingerprints = one 128-bit simhash over
# the concatenated hash function (h₀, h₁))
SIMHASH_EXT_A2 = [715225739, 122949829, 198491329, 5915587]
SIMHASH_EXT_B2 = [32452843, 512927377, 86028157, 715827883]


def _ext_family(fam: int):
    return ((SIMHASH_EXT_A, SIMHASH_EXT_B) if fam == 0
            else (SIMHASH_EXT_A2, SIMHASH_EXT_B2))


def simhash_ext_spark(h: str, fam: int = 0) -> str:
    A, B = _ext_family(fam)
    r = [f"(({a}L * {h} + {b}L) % {MOD})" for a, b in zip(A, B)]
    return (
        f"({r[0]} + {r[1]} * {1 << 30}L + ({r[2]} % 8) * {1 << 60}L"
        f" + CASE WHEN {r[3]} % 2 = 1 THEN {-(1 << 63)}L ELSE 0L END)"
    )


def simhash_ext_duck(h: str, fam: int = 0) -> str:
    A, B = _ext_family(fam)
    r = [f"(({a}::BIGINT * {h} + {b}::BIGINT) % {MOD})" for a, b in zip(A, B)]
    return (
        f"({r[0]} + {r[1]} * {1 << 30}::BIGINT + ({r[2]} % 8) * {1 << 60}::BIGINT"
        f" + CASE WHEN {r[3]} % 2 = 1 THEN (-9223372036854775807 - 1) ELSE 0 END)"
    )


def simhash_bit_mask(j: int) -> int:
    """Single-bit mask as a signed-BIGINT value (bit 63 = -2^63)."""
    return (1 << j) if j < 63 else -(1 << 63)


def simhash_bit_mask_lit(j: int) -> str:
    """Same mask as SQL text, parse-safe in both dialects: a bare
    -9223372036854775808 literal overflows BIGINT lexing (the negation
    applies after the out-of-range magnitude), so bit 63 is spelled as
    an in-range expression."""
    return str(1 << j) if j < 63 else "(-9223372036854775807 - 1)"
