"""Per-file bloom filters for merge-key point-lookup file skipping.

The reference ships a primary-key index (`utils/primary_key_index.py` —
SHA-1 digests hashed into bucketed indexes) so point reads don't touch
every file. min/max footer stats (``catalog/io.py:_footer_stats``) can't
skip on high-cardinality keys whose values span every file's range; a
per-file bloom can. Design:

* **Computed executor-side, one narrow pass.** After a commit's files
  are final (post-rename), one Spark job reads ONLY the bloom columns
  plus ``input_file_name()`` and folds each row's 4 probe bits into
  64-bit words with a map-side-combined ``bit_or`` aggregation — the
  collected result is bloom-sized (m/64 longs per file), never
  row-sized. At 100 TB this is a columnar scan of just the key column
  over the *new commit's* files only.
* **Sidecar storage, log stays light.** A bloom is ~1 byte per row
  (m = 8n bits) — inlining it in the commit-log JSON would bloat every
  log read. Each file's blooms live in one sidecar
  ``_bloom/<data-relpath with '/'→'_'>.json`` under the table root; the
  add action carries only the tiny ``bloom_ref``. A missing/corrupt
  sidecar degrades to "no skipping", never to a wrong answer.
* **Cross-side hash.** Probe positions must be computable by Spark (to
  build) and by the plain-Python driver (to prune): md5 of the value's
  canonical string, four 32-bit hex slices mod m (same construction as
  ``workloads/base.py:md5_prefix_int`` — DuckDB portability is not
  needed here, but driver/JVM agreement is).
* **Sizing.** m = next-pow2(8·records) clamped to [2^10, 2^23] bits,
  k = 4 → ~2.4% false-positive rate at the design load factor. Files
  beyond 2^20 records saturate toward "always maybe" — still correct,
  and 2^23 bits caps a sidecar at 1 MiB per column.

Enable via the table property ``bloom_filter_columns`` (comma-separated
column names, typically the merge keys). Only string/integral columns
are eligible: their Spark ``cast("string")`` matches Python ``str()``
exactly, which the cross-side hash requires.
"""

from __future__ import annotations

import base64
import hashlib
import json
import struct
from typing import Any

from pyspark.sql import DataFrame, functions as F

from deltacat_spark.localdf import local_df

BLOOM_DIR = "_bloom"
BLOOM_K = 4
_M_MIN = 1 << 10
_M_MAX = 1 << 23

# Spark types whose cast("string") is byte-identical to Python str().
_ELIGIBLE_SPARK_TYPES = {
    "string",
    "bigint",
    "int",
    "smallint",
    "tinyint",
    "long",
    "integer",
    "short",
    "byte",
}


def bloom_m(records: int) -> int:
    m = _M_MIN
    target = max(records, 1) * 8
    while m < target and m < _M_MAX:
        m <<= 1
    return m


def sidecar_relpath(data_relpath: str) -> str:
    """Deterministic sidecar location for a data file's blooms."""
    return f"{BLOOM_DIR}/{data_relpath.replace('/', '_')}.json"


def _positions_py(value: Any, m: int) -> list[int]:
    h = hashlib.md5(str(value).encode("utf-8")).hexdigest()
    return [int(h[8 * i : 8 * i + 8], 16) % m for i in range(BLOOM_K)]


def _probe_candidates(value: Any, kind: "str | None") -> "list[str] | None":
    """Canonical string(s) to probe for a predicate literal, normalized
    to the column's recorded type kind ("int"/"str"). The stored bits
    hashed Spark's `cast("string")` of the COLUMN value, so the probe
    must hash the same canonical form: `5.0` against a bigint column
    must probe "5", not "5.0" (a raw str() mismatch would fail every
    probe and wrongly skip files min/max stats would keep). Returns
    None when the literal can't be normalized (e.g. a non-integral
    float against an integral column) → keep the file, never skip.
    Legacy sidecars without a recorded kind probe every plausible form
    and keep the file if ANY may be present."""
    if kind == "int":
        if isinstance(value, bool):
            return None
        if isinstance(value, int):
            return [str(value)]
        if isinstance(value, float):
            return [str(int(value))] if value.is_integer() else None
        if isinstance(value, str):
            try:
                return [str(int(value.strip()))]
            except ValueError:
                return None
        return None
    if kind == "str":
        cands = [str(value)]
        if isinstance(value, float) and value.is_integer():
            cands.append(str(int(value)))
        return cands
    # unknown/legacy kind: union of both normalizations (conservative)
    cands = [str(value)]
    if isinstance(value, float) and value.is_integer():
        cands.append(str(int(value)))
    elif isinstance(value, str):
        try:
            cands.append(str(int(value.strip())))
        except ValueError:
            pass
    return cands


def probe(sidecar: dict, col: str, value: Any) -> bool:
    """True iff the value MAY be present in the file (bloom semantics).
    Unknown column / malformed sidecar / un-normalizable literal → True
    (no skipping)."""
    meta = sidecar.get(col)
    if not meta:
        return True
    try:
        m = int(meta["m"])
        words = struct.unpack(
            f">{m // 64}Q", base64.b64decode(meta["b64"])
        )
        cands = _probe_candidates(value, meta.get("t"))
        if cands is None:
            return True
        for cand in cands:
            if all(
                (words[pos // 64] >> (pos % 64)) & 1
                for pos in _positions_py(cand, m)
            ):
                return True
        return False
    except (KeyError, ValueError, struct.error):
        return True


def eligible_columns(df: DataFrame, requested: list[str]) -> list[str]:
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    return [
        c
        for c in requested
        if types.get(c) in _ELIGIBLE_SPARK_TYPES
    ]


def attach_blooms(
    adds: list[dict],
    table_root: str,
    raw: DataFrame,
    fs,
) -> None:
    """Compute blooms for a commit's data files and write sidecars.

    Mutates each add action in place with ``bloom_ref``. ``adds`` are
    the post-rename actions from ``collect_add_actions`` (paths relative
    to the table root, ``records`` known from the footer pass); ``raw``
    scans exactly their files, projected to the bloom columns.
    """
    spark = raw.sparkSession
    cols = raw.columns
    entries = [
        (a["add"]["path"], int(a["add"].get("records") or 0))
        for a in adds
        if "add" in a
    ]
    if not entries or not cols:
        return
    m_by_base: dict[str, int] = {}
    rel_by_base: dict[str, str] = {}
    for rel, records in entries:
        base = rel.rsplit("/", 1)[-1]
        m_by_base[base] = bloom_m(records)
        rel_by_base[base] = rel
    # Record each column's type KIND so the read-side probe can
    # normalize predicate literals to the same canonical string the
    # cast("string") below produced ("int" vs "str" — see
    # `_probe_candidates`).
    kinds = {
        f.name: ("str" if f.dataType.simpleString() == "string" else "int")
        for f in raw.schema.fields
        if f.name in cols
    }
    src = raw.select(
        F.element_at(F.split(F.input_file_name(), "/"), -1).alias("__base"),
        *[F.col(c).cast("string").alias(c) for c in cols],
    )
    m_df = F.broadcast(
        local_df(spark,
            list(m_by_base.items()), schema="__base string, __m long"
        )
    )
    src = src.join(m_df, "__base")
    # words[col] : {(base, word_idx) -> or-mask}, aggregated per column.
    blooms: dict[str, dict[str, dict[int, int]]] = {}
    for c in cols:
        h = F.md5(F.col(c))
        probes = F.array(
            *[
                F.conv(F.substring(h, 1 + 8 * i, 8), 16, 10).cast("long")
                % F.col("__m")
                for i in range(BLOOM_K)
            ]
        )
        rows = (
            src.filter(F.col(c).isNotNull())
            .select("__base", F.explode(probes).alias("__pos"))
            .groupBy("__base", F.expr("__pos div 64").alias("__w"))
            .agg(
                F.bit_or(
                    F.expr("shiftleft(CAST(1 AS BIGINT), CAST(__pos % 64 AS INT))")
                ).alias("__mask")
            )
            .collect()
        )
        per_file: dict[str, dict[int, int]] = {}
        for r in rows:
            per_file.setdefault(r["__base"], {})[int(r["__w"])] = (
                int(r["__mask"]) & 0xFFFFFFFFFFFFFFFF
            )
        blooms[c] = per_file
    fs.makedirs(fs.join(table_root, BLOOM_DIR))
    refs: dict[str, str] = {}
    for base, rel in rel_by_base.items():
        m = m_by_base[base]
        sidecar: dict[str, dict] = {}
        for c in cols:
            words = [0] * (m // 64)
            for w, mask in blooms.get(c, {}).get(base, {}).items():
                words[w] = mask
            sidecar[c] = {
                "m": m,
                "k": BLOOM_K,
                "t": kinds.get(c),
                "b64": base64.b64encode(
                    struct.pack(f">{len(words)}Q", *words)
                ).decode("ascii"),
            }
        ref = sidecar_relpath(rel)
        fs.write_text_atomic(
            fs.join(table_root, ref), json.dumps(sidecar)
        )
        refs[rel] = ref
    for a in adds:
        add = a.get("add")
        if add and add["path"] in refs:
            add["bloom_ref"] = refs[add["path"]]
