"""Edge extraction from source text — the engine's ingest path.

Per BASELINE.json north_star: edges are built from import/dependency
references extracted per file with **Arrow-vectorized pandas UDFs**
(pandas ``.str`` ops over Arrow record batches — no per-row Python in
the hot path), content integrity is verified by sha256 per row
(JVM-side ``F.sha2``, i.e. whole-stage-codegen, not Python at all), and
references resolve against the file catalog to file-level edges
``(src: long, dst: long)``.

The source is read once. :func:`extract_edges` stores one projection of
it — ``(repo, path, module, refs, sha-ok flag)``, never ``content`` —
with one ``lineage.barrier``, so the source plan and the Python
extraction run in a single stage; the sha256 check, the id mint and the
edge build all read that stored scan. The mint stores its own
range-partitioned, sorted copy (ids on the same rows as their refs);
the returned frames are projections of it.

Reference analogue: the inputstep
(``computer-core/.../input/WorkerInputManager.java:110-141``) where raw
input is fetched and converted once, then shuffled by the partitioner;
its "stale edges are skipped" rule (``FileGraphPartition.java:341-343``)
maps to the inner join against the catalog (unresolvable imports drop).
The input-filter column pruning
(``input/filter/DefaultInputFilter.java``) is Catalyst's job here: only
(repo, path, content, lang, sha256) are ever read from the scan.
"""

from __future__ import annotations

from itertools import accumulate

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T
from pyspark.sql.pandas.functions import pandas_udf

from incubator_hugegraph_computer_spark.plans.lineage import barrier, release

# One regex per language, applied with pandas' vectorized .str.findall.
LANG_IMPORT_RE = {
    "python": r"(?m)^\s*(?:from|import)\s+(mod_\d+)",
    "java": r"(?m)^\s*import\s+(?:[\w.]+\.)?(mod_\d+)\s*;",
    "go": r"\"(?:[\w./]*/)?(mod_\d+)\"",
}
_DEFAULT_RE = r"(mod_\d+)"


# DataType object (not DDL string) so the UDF can be defined without an
# active SparkContext at import time.
@pandas_udf(T.ArrayType(T.StringType()))
def extract_refs(content: pd.Series, lang: pd.Series) -> pd.Series:
    """Referenced module tokens per file (Arrow-batched; .str.findall is
    the vectorized path — one regex pass per language subset)."""
    out = pd.Series([None] * len(content), dtype=object)
    for lg in lang.dropna().unique():
        mask = lang == lg
        pat = LANG_IMPORT_RE.get(lg, _DEFAULT_RE)
        out[mask] = content[mask].str.findall(pat)
    return out


def _sha_ok(hash_col: str = "sha256") -> Column:
    """True where recomputed sha256(content) equals the stored hash.

    ``eqNullSafe(True)``, not the bare equality: a NULL content or NULL
    stored hash makes the equality NULL, and a filter on ``~NULL`` would
    silently pass the unverifiable row instead of counting it corrupt."""
    return (F.sha2(F.col("content"), 256) == F.col(hash_col)).eqNullSafe(F.lit(True))


def verify_sha256(files: DataFrame, hash_col: str = "sha256") -> DataFrame:
    """Per-row integrity invariant: recomputed sha256(content) must equal
    the catalog's stored hash. Returns ``files``; raises on any mismatch
    (the count is a cheap scan-only action — no shuffle)."""
    bad = files.where(~_sha_ok(hash_col)).count()
    if bad:
        raise ValueError(f"sha256 mismatch on {bad} rows — corrupt input")
    return files


def _module() -> Column:
    """The module token a file defines: its file name without extension."""
    return F.regexp_extract("path", r"([^/]+)\.[A-Za-z]+$", 1)


def dense_ids_by_sort(df: DataFrame, order_cols: list[str], id_col: str = "id") -> DataFrame:
    """``df`` plus dense ids 0..N-1 in (order_cols) sort order, minted
    WITHOUT a global single-task stage.

    Range-repartition (partition p holds a contiguous key range, all
    ranges ordered), sort each partition, and number its rows with
    ``monotonically_increasing_id`` (``p << 33`` plus the row's place in
    the sorted partition). One :func:`barrier` stores those rows; its
    aggregate row is the per-partition row counts. The id is the row's
    place plus its partition's offset, the driver cumsum of those
    counts, read from an array literal indexed by the partition. Same
    ids as ``row_number() OVER (ORDER BY ...)``.

    The rows must be stored before the offsets are read: ids come from
    the partitioning the offsets were counted on, and
    ``repartitionByRange`` re-samples its boundaries on recompute. The
    returned frame is a projection of the stored rows (no shuffle) and
    keeps them stored while it is referenced; ``df`` itself is left as
    it was."""
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    pid = F.shiftright(F.col("_mid"), 33)
    part, counts = barrier(
        None,
        df.repartitionByRange(n_parts, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("_mid", F.monotonically_increasing_id()),
        *(F.count_if(pid == p) for p in range(n_parts)),
    )
    offsets = F.lit(list(accumulate(counts[:-1], initial=0))).cast("array<long>")
    row = F.col("_mid").bitwiseAND((1 << 33) - 1)
    return part.withColumn(id_col, offsets[pid] + row).drop("_mid")


def build_catalog(files: DataFrame, dense_ids: bool = True) -> DataFrame:
    """(id, repo, path, module) — one row per file, long ids.

    ``dense_ids=True`` mints 0..V-1 in (repo, path) order via
    :func:`dense_ids_by_sort` — exact min-id semantics and compact
    downstream state with no single-task stage (range partition →
    parallel per-partition rank → offset add). At 10^12-file scale flip
    to ``False``: ``xxhash64(repo, path)`` is shuffle-free (the
    reference's BytesId would call these LONG ids; ordering caveats in
    SURVEY §1.3 apply only to the dense path's min-id outputs which
    stay non-negative).
    """
    base = files.select("repo", "path", _module().alias("module"))
    if dense_ids:
        return dense_ids_by_sort(base, ["repo", "path"]).select("id", "repo", "path", "module")
    return base.select(
        F.xxhash64("repo", "path").alias("id"), "repo", "path", "module"
    )


def mint_bytesid_ordered_ids(values: DataFrame, col: str = "sid") -> DataFrame:
    """(sid, id) — dense long ids whose numeric order equals the
    reference's UTF8 BytesId order: **length first, then bytewise**
    (``BytesId.compareTo`` → ``BytesUtil.compare``,
    computer-api/.../util/BytesUtil.java:61-73). Any algorithm taking a
    min over ids (WCC component representative, K-core's WCC phase,
    rings' "smallest vertex") then reproduces the reference's choice
    exactly: numeric ``min`` over these ids == BytesId min over the
    strings. Uses the same parallel dense-id minting as
    :func:`build_catalog` (no single-task stage).

    Length means **UTF-8 byte length** (``octet_length``), not character
    count — the reference compares the serialized byte arrays, so a
    2-byte 'é' sorts after any 2-char ASCII id of equal byte length,
    before 3-byte ones (and DuckDB's ``strlen`` replays byte length).
    The bytewise tie-break is Spark's native string order (UTF8String
    compares raw UTF-8 bytes, which is also code-point order)."""
    base = values.select(col).distinct().withColumn("_len", F.octet_length(F.col(col)))
    return dense_ids_by_sort(base, ["_len", col]).drop("_len")


def mint_uuid_ordered_ids(values: DataFrame, col: str = "uid") -> DataFrame:
    """(uid, id) — dense long ids whose numeric order equals the
    reference's **UUID** BytesId order (``IdType.java:22-27`` lists
    LONG/UTF8/UUID; ``BytesId.of(UUID)`` serializes
    ``writeLong(mostSignificantBits); writeLong(leastSignificantBits)``
    — ``BytesId.java:79-92`` — i.e. exactly the 16 bytes of the
    canonical hex with dashes removed, big-endian). All UUIDs serialize
    to the same length (16), so ``BytesUtil.compare``'s length-first
    rule (``BytesUtil.java:61-73``) never fires and the order reduces to
    plain unsigned byte order == lexical order of the lowercase 32-char
    hex (ASCII '0'-'9' < 'a'-'f', and UTF8String comparison is unsigned
    bytewise). Simpler than the UTF8 path: no length prefix needed.

    Accepts canonical dashed UUID strings in any case; ordering uses the
    normalized lower-hex form. Same parallel dense-id minting as
    :func:`build_catalog` (no single-task stage)."""
    base = (
        values.select(col)
        .distinct()
        .withColumn("_hex", F.lower(F.regexp_replace(F.col(col), "-", "")))
    )
    return dense_ids_by_sort(base, ["_hex", col]).drop("_hex")


def extract_edges(
    files: DataFrame, verify: bool = True, weighted: bool = False
) -> tuple[DataFrame, DataFrame]:
    """Full ingest: one scan (verify + extract refs) → mint → resolve → dedup.

    Returns (vertices ``(id, repo, path)``, edges ``(src, dst)`` — or
    ``(src, dst, weight)`` with ``weighted=True``).
    Edge dedup implements EdgeFrequency.SINGLE
    (``computer-api/.../config/EdgeFrequency.java:26-29``);
    ``weighted=True`` is the EdgeFrequency.MULTIPLE view folded to one
    edge per pair with the reference multiplicity as ``weight`` (how
    often src imports dst) — the natural edge weight for
    ``pagerank_weighted``. Same single shuffle either way (distinct and
    groupBy hash on the same (src,dst) key).

    ``files`` is read once: the projection ``(repo, path, module, refs,
    sha-ok flag)`` is stored by one :func:`barrier`, whose row gives the
    corrupt-row count (raised on before the mint) and the file count.
    ``content`` is never stored. The mint range-partitions, sorts and
    stores that scan, ids on the same rows as their ``refs``, and the
    scan is then released. Edges are the exploded refs, ``src`` already
    on the row, joined to the minted ``module → dst`` side; a catalog
    under ~5M rows (tens of MB) is broadcast, a larger one is
    shuffle-joined on the token with AQE splitting skewed hub modules.
    Both returned frames read the mint's stored rows (a projection and
    a join, no window) and keep them stored while referenced.
    """
    aggs = [F.count(F.lit(1))]
    scan_cols = [
        "repo",
        "path",
        _module().alias("module"),
        extract_refs(F.col("content"), F.col("lang")).alias("refs"),
    ]
    if verify:
        scan_cols.append(_sha_ok().alias("_sha_ok"))
        aggs.append(F.count_if(~F.col("_sha_ok")))
    scan, row = barrier(None, files.select(*scan_cols), *aggs)
    if verify and row[1]:
        release(scan)
        raise ValueError(f"sha256 mismatch on {row[1]} rows — corrupt input")
    minted = dense_ids_by_sort(scan.select("repo", "path", "module", "refs"), ["repo", "path"])
    release(scan)  # the mint stored its own copy
    dst_side = minted.select(F.col("id").alias("dst"), "module")
    # the stored mint carries no size estimate, so the planner cannot
    # see that this side is small: under ~5M rows it is tens of MB
    if row[0] <= 5_000_000:
        dst_side = F.broadcast(dst_side)
    raw = (
        minted.select(F.col("id").alias("src"), F.explode("refs").alias("module"))
        .join(dst_side, "module")
        .select("src", "dst")
        .where(F.col("src") != F.col("dst"))
    )
    if weighted:
        edges = raw.groupBy("src", "dst").agg(
            F.count(F.lit(1)).cast("double").alias("weight")
        )
    else:
        edges = raw.distinct()
    return minted.select("id", "repo", "path"), edges
