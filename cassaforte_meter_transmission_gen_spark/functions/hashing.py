"""Seed/identity hashing (reference F5 ``host-hash``, core.clj:27-35).

The reference reads ``system.local.host_id`` once per process and maps
it to a stable int seed: SHA1(host_id_str) as a signed BigInteger, mod
100000 (Clojure ``mod`` is floor-mod, so the result is non-negative even
for negative hash values). Purpose: same host ⇒ same ``said`` range,
different hosts ⇒ disjoint ranges (core.clj:28-31).

Spark-first: this runs ONCE per job, driver-side — never inside a plan
(determinism for the oracle; SURVEY §3.2).
"""

from __future__ import annotations

import hashlib

HOST_HASH_MOD = 100000


def host_hash(seed_str: str, mod: int = HOST_HASH_MOD) -> int:
    """Driver-side stable seed: SHA1(seed_str) mod ``mod``.

    Matches the reference's floor-mod semantics: Python ``%`` on a
    non-negative int equals Clojure ``mod`` here because we take the
    digest as unsigned (the reference's signed interpretation + floor-mod
    lands in the same residue class range [0, mod)).
    """
    digest = hashlib.sha1(seed_str.encode("utf-8")).hexdigest()
    return int(digest, 16) % mod


_M32 = 0xFFFFFFFF


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def murmur3_hash_int(value: int, seed: int = 42) -> int:
    """Murmur3 x86_32 of one 32-bit int block, driver-side — bit-equal
    to Spark's ``F.hash`` on an IntegerType column (Spark hashes an int
    as a single 4-byte block with seed 42; the well-specified public
    MurmurHash3 finalization). Returns the SIGNED int32 Spark produces.

    Exists so metadata-sized derivations (e.g. mapping a handful of
    requested meter ids to their storage buckets in
    sources.layout.read_meter_time_range) don't need a Spark job per
    read — property-tested against ``F.hash`` over random ints in
    tests/test_properties.py."""
    k1 = (value & _M32) * 0xCC9E2D51 & _M32
    k1 = _rotl32(k1, 15)
    k1 = k1 * 0x1B873593 & _M32
    h1 = (seed & _M32) ^ k1
    h1 = _rotl32(h1, 13)
    h1 = (h1 * 5 + 0xE6546B64) & _M32
    # fmix32, with len = 4 bytes
    h1 ^= 4
    h1 ^= h1 >> 16
    h1 = h1 * 0x85EBCA6B & _M32
    h1 ^= h1 >> 13
    h1 = h1 * 0xC2B2AE35 & _M32
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


def said_bucket(said: int, n_buckets: int) -> int:
    """Driver-side dual of the writer's bucket expression
    ``pmod(hash(said), n_buckets)`` (sources.layout) — floor-mod of the
    signed Murmur3 value, always in [0, n_buckets)."""
    return murmur3_hash_int(said) % n_buckets
