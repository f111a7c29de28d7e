"""Portable hashing + partition mappings.

The reference's "exchange operators" are its message → journal mappings
(SURVEY.md §2.3): RandomMapping (message/routines.go:62-78),
ModuloMapping (routines.go:80-101), RendezvousMapping
(routines.go:103-157). In Spark the first two are literally
`repartition(n)` / `repartition(n, key)`; the expressions here exist so
the *mapping decision itself* is queryable (Q-SHUF) and so rendezvous
(highest-random-weight) routing is available for minimal-churn topology
changes, which Spark has no built-in for.

Hash portability: Spark's `hash()` is Murmur3 and DuckDB's `hash()` is
its own — they disagree, so cross-checkable mappings use the first 32
bits of md5, which both engines compute identically. Engine-internal
repartitioning still uses Spark's native hash (no md5 cost) — the
md5-based mapping is the *declared*, engine-independent routing.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


# ------------------------------------------------------------ Spark side
def md5i32(col: Column) -> Column:
    """First 32 bits of md5(col) as a non-negative BIGINT (0..2^32-1)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def seeded_md5i32(col: Column, seed: int) -> Column:
    """Seed-parameterized md5 hash (independent hash family member)."""
    return md5i32(F.concat(F.lit(f"s{seed}:"), col))


def modulo_mapping(key: Column, n_partitions: int) -> Column:
    """Stable key → partition (message/routines.go:80-101)."""
    return md5i32(key) % F.lit(n_partitions)


def rendezvous_mapping(key: Column, partitions: list[str]) -> Column:
    """Highest-random-weight mapping (message/routines.go:103-157).

    Routes `key` to the partition name with the greatest
    hash(key || partition) — when the partition set changes, only keys
    whose winner changed move (minimal churn), unlike modulo. Built as
    a pure expression: array of (weight, name) structs → array_max.
    """
    pairs = F.array(
        *[
            F.struct(
                seeded_md5i32(F.concat(key, F.lit(f"|{p}")), 0).alias("w"),
                F.lit(p).alias("p"),
            )
            for p in partitions
        ]
    )
    return F.array_max(pairs).getField("p")


# ----------------------------------------------------------- DuckDB side
def duck_md5i32(expr: str) -> str:
    """DuckDB SQL computing the same value as `md5i32`."""
    return f"CAST('0x' || substr(md5({expr}), 1, 8) AS BIGINT)"


def duck_seeded_md5i32(expr: str, seed: int) -> str:
    return duck_md5i32(f"'s{seed}:' || {expr}")
