"""Per-segment token Bloom filters for manifest-level TERM pruning on
tokenized text fields.

The reference's tantivy segments carry real inverted indexes, so a
term query touches only segments whose term dictionary contains the
token. This engine scans Parquet — zone maps already prune numbers /
raw strings / IPs / time at the manifest, but a term query on a
TOKENIZED field (default / whitespace / en_stem) had to scan every
segment. A small Bloom filter over each segment's distinct tokens,
recorded in the manifest at write time, restores the skip: a required
query token whose bits are not all set CANNOT be in the segment.

Design points:

* scalar fields' blooms are OBSERVED on the write of the segment's
  BM25 ``_stats`` sidecar (:func:`token_bloom_aggs`): its term rows
  are exactly the field's distinct tokens, so the bloom costs no job
  of its own — at commit, and at a delete-free merge whose sidecar is
  the sum of its inputs' sidecars. Array text fields (no sidecar)
  keep a tokenize+distinct job per field (:func:`build_token_bloom`);
* sized from the observed vocabulary (~10 bits/token, k=4 ⇒ ~1-2%
  false positives), power-of-two capped at 2^18 bits = 32 KB; a
  segment whose vocabulary exceeds ``MAX_VOCAB`` records no bloom
  (conservative: no bloom = no pruning). At true 100 TB scale the
  bitsets would move to a stats sidecar / metastore instead of the
  JSON manifest — the cap keeps the manifest metadata-sized here;
* hash family is the SQL-auditable polynomial fold (dedup.poly_hash)
  with Kirsch-Mitzenmacher double hashing, so the driver-side probe
  (`_poly_fold_py`) computes bit-for-bit the positions the Spark
  build set — no JVM round-trip per query;
* only CONSERVATIVE pruning: a segment is dropped only when a token
  that provably MUST occur in every match (conjunct terms / phrase
  words) is provably absent. OR branches prune only via tokens
  required by every branch; ``must_not`` never prunes.

Merge: a merged scalar field's bloom is observed on the merged
sidecar write like a commit's, so it is exact whatever the inputs'
geometries. Array fields' blooms union by bitwise OR when every input
has one of the same geometry and are dropped otherwise (conservative).
"""

from __future__ import annotations

import base64

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from toshokan_spark.operators.dedup import _poly_fold_py, poly_hash
from toshokan_spark.functions.tokenizers import analyze_term, tokenize
from toshokan_spark.plans.ast import BoolQuery, Phrase, Term

#: Kirsch-Mitzenmacher base hashes (poly fold params: base, add, mod,
#: init) — mirrored by the Python probe via _poly_fold_py
_H1 = (1103515245, 0, 1_000_000_007, 5381)
_H2 = (1103515245, 7, 1_000_000_007, 17)

K_HASHES = 4
BITS_PER_TOKEN = 10
MAX_BITS = 1 << 18
MIN_BITS = 1 << 10
#: vocabulary cap above which no bloom is recorded (manifest stays
#: metadata-sized; see module docstring for the at-scale layout)
MAX_VOCAB = 200_000


def _next_pow2(n: int) -> int:
    p = 1
    while p < n:
        p <<= 1
    return p


def build_token_bloom(
    written: DataFrame, col_name: str, tokenizer: str, is_array: bool = False
) -> dict | None:
    """Bloom over the DISTINCT analyzed tokens of *col_name* in a
    just-written segment; ``{"m": bits, "k": hashes, "b64": bitset}``
    or None (empty column / vocabulary over cap).

    The heavy work (explode, distinct) is distributed; only the
    vocabulary size and the distinct BIT POSITIONS are collected —
    bounded by ``MAX_BITS`` per hash, never by the corpus. When the
    segment carries the ingest-time ``__tokens__<field>`` shadow
    column the build explodes it directly instead of re-tokenizing
    the text."""
    from toshokan_spark.ingest import TOKENS_PREFIX

    shadow = f"{TOKENS_PREFIX}{col_name}"
    if shadow in written.columns:
        src = F.col(shadow)
    elif is_array:
        src = F.flatten(
            F.transform(F.col(col_name), lambda e: tokenize(e, tokenizer))
        )
    else:
        src = tokenize(F.col(col_name), tokenizer)
    toks = written.select(F.explode(src).alias("t")).distinct()
    return observed_bloom(toks.agg(*token_bloom_aggs(F.col("t"), "b")).first(), "b")


def token_bloom_aggs(term: Column, tag: str) -> list[Column]:
    """Aggregates that describe a bloom over *term*, a column holding
    each DISTINCT token once (nulls are skipped), for
    ``DataFrame.observe``: the vocabulary size and, per hash, the set
    of bit positions mod ``MAX_BITS``. Every geometry is a power of two
    ≤ ``MAX_BITS``, so ``p mod m == (p mod MAX_BITS) mod m``: the
    positions are exact for whichever ``m`` the vocabulary size picks.
    :func:`observed_bloom` reads them back."""
    h1 = poly_hash(term, *_H1[:2], _H1[2], _H1[3])
    h2 = poly_hash(term, *_H2[:2], _H2[2], _H2[3])
    return [F.count(term).alias(f"{tag}_n")] + [
        F.collect_set(((h1 + i * h2) % MAX_BITS).cast("int")).alias(f"{tag}_p{i}")
        for i in range(K_HASHES)
    ]


def observed_bloom(row, tag: str) -> dict | None:
    """The bloom :func:`token_bloom_aggs` described under *tag*:
    ``{"m": bits, "k": hashes, "b64": bitset}`` sized from the
    vocabulary (~10 bits/token, a power of two in [MIN_BITS,
    MAX_BITS]), or None (no tokens / vocabulary over cap)."""
    n = row[f"{tag}_n"]
    if n == 0 or n > MAX_VOCAB:
        return None
    m = min(MAX_BITS, max(MIN_BITS, _next_pow2(n * BITS_PER_TOKEN)))
    bits = bytearray(m // 8)
    for i in range(K_HASHES):
        for p in row[f"{tag}_p{i}"]:
            p %= m
            bits[p >> 3] |= 1 << (p & 7)
    return {"m": m, "k": K_HASHES, "b64": base64.b64encode(bytes(bits)).decode()}


def token_positions(token: str, m: int, k: int) -> list[int]:
    """The k bit positions of *token* — hashes computed ONCE per
    token, reusable across every segment with the same geometry."""
    h1 = _poly_fold_py(token, _H1[0], _H1[1], _H1[2], _H1[3])
    h2 = _poly_fold_py(token, _H2[0], _H2[1], _H2[2], _H2[3])
    return [(h1 + i * h2) % m for i in range(k)]


def bloom_absent_any(bloom: dict, tokens) -> bool:
    """True when ANY of *tokens* is PROVABLY absent from *bloom* —
    the segment-prune test. Decodes the bitset once for the whole
    token set (at 10k segments the per-call base64 decode is the
    probe's dominant cost, so it must not repeat per token)."""
    m, k = bloom["m"], bloom["k"]
    bits = base64.b64decode(bloom["b64"])
    for t in tokens:
        for p in token_positions(t, m, k):
            if not (bits[p >> 3] >> (p & 7)) & 1:
                return True
    return False


def bloom_might_contain(bloom: dict, token: str) -> bool:
    """Driver-side single-token probe (tests / ad-hoc); the pruning
    loop uses :func:`bloom_absent_any`."""
    return not bloom_absent_any(bloom, [token])


def merge_blooms(blooms: list[dict | None]) -> dict | None:
    """Union of same-geometry blooms by bitwise OR (array text fields
    at merge); None when any input lacks a bloom or geometries differ
    (conservative)."""
    if not blooms or any(b is None for b in blooms):
        return None
    m, k = blooms[0]["m"], blooms[0]["k"]
    if any(b["m"] != m or b["k"] != k for b in blooms):
        return None
    acc = bytearray(base64.b64decode(blooms[0]["b64"]))
    for b in blooms[1:]:
        for i, byte in enumerate(base64.b64decode(b["b64"])):
            acc[i] |= byte
    return {"m": m, "k": k, "b64": base64.b64encode(bytes(acc)).decode()}


def required_term_tokens(node, field: str, tokenizer: str) -> set[str]:
    """Tokens that MUST occur in every document matching *node* on
    *field* — the safe-to-prune-on set. Mirrors the conservative
    semantics of ``query._interval_bounds``: union across ``must``
    conjuncts, intersection across pure-``should`` disjuncts (a token
    prunes only if every branch requires it), nothing from
    ``must_not`` or other fields. Empty set = cannot prune."""
    if isinstance(node, Term) and node.field == (field,):
        return set(analyze_term(node.text, tokenizer))
    if isinstance(node, Phrase) and node.field == (field,):
        return set(analyze_term(node.text, tokenizer))
    if isinstance(node, BoolQuery):
        if node.must:
            out = set()
            for c in node.must:
                out |= required_term_tokens(c, field, tokenizer)
            return out
        if node.should:
            sets = [required_term_tokens(c, field, tokenizer) for c in node.should]
            if not sets or any(not s for s in sets):
                return set()
            out = sets[0]
            for s in sets[1:]:
                out &= s
            return out
    return set()
