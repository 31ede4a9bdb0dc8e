"""Execution-hygiene helpers shared across operator modules."""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# Row cap under which a vocabulary-keyed side table is broadcast-
# hinted. Sizing math (SCALE.md "Size-gated broadcasts"): a (token,
# count) row costs ~100 bytes inside the JVM broadcast hashmap
# (string + long + node overhead), so 2M rows ~ 200 MB per executor —
# the comfortable ceiling for an explicit hint. Below it, shipping
# the table beats shuffling the (much larger) fact side; above it,
# the hint becomes an executor-OOM order, so the join stays a plain
# equi-join and AQE still picks broadcast at runtime if the side
# turns out to fit autoBroadcastJoinThreshold.
BROADCAST_ROW_CAP = 2_000_000

# Every operator-persisted frame / broadcast is tracked here so a long
# session can release them all between pipeline stages. Entries are
# tiny (references, not data); release_caches() drains the lists.
_TRACKED_FRAMES: list[DataFrame] = []
_TRACKED_BROADCASTS: list = []
_TRACKED_RELEASERS: list = []

# path -> ((modification time, length), schema inferred at that stamp);
# see read_parquet.
_PARQUET_SCHEMAS: dict[str, tuple[tuple[int, int], StructType]] = {}


def read_parquet(spark: SparkSession, path: str) -> tuple[DataFrame, StructType]:
    """``spark.read.parquet(path)`` and its schema, inferring the schema
    once per version of the table.

    Spark infers a parquet schema with a job
    (``mergeSchemasInParallel``), even for a single file. This helper
    memoizes the inferred schema per path, stamped with the path's
    Hadoop ``(modification time, length)`` from one ``getFileStatus``
    call. While the stamp is unchanged, the read passes the memoized
    schema to ``spark.read.schema(...)`` and runs no job. Every call
    still returns a fresh relation, with a fresh file listing and fresh
    attribute ids, so a query that reads one table twice does not
    self-join one plan.

    Invalidation contract:

    - The memo is keyed by path, modification time and length. A
      rewrite that changes either is inferred again; a Spark overwrite
      of a table directory re-creates the directory, so it always does.
    - A rewrite of the same length within the filesystem's timestamp
      granularity is not detected. Spark's own file-status cache has
      the same limit, which is why Spark needs ``REFRESH TABLE``.
    - Concurrent callers (two ``foreachBatch`` callbacks) may both miss
      and infer twice. That is harmless, so there is no lock.

    The memo is process-wide. A hit reuses the schema Spark inferred at
    the miss, under that read's session confs (``session.ensure_utc``
    for catalog tables); the returned schema is the memoized object, so
    callers must not mutate it. A path whose status cannot be read
    (missing, or a glob) bypasses the memo, so Spark raises its usual
    error for it.
    """
    try:
        jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        status = fs.getFileStatus(jpath)
    except Py4JJavaError:
        df = spark.read.parquet(path)
        return df, df.schema
    stamp = (status.getModificationTime(), status.getLen())
    hit = _PARQUET_SCHEMAS.get(path)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path), hit[1]
    df = spark.read.parquet(path)
    _PARQUET_SCHEMAS[path] = (stamp, df.schema)
    return df, df.schema


def materialize(df: DataFrame) -> DataFrame:
    """persist() + eager population (count action).

    A lazily-persisted plan that fans out into SEVERAL downstream
    stages is a scheduling race: when the scheduler launches those
    stages concurrently (it does, they share no shuffle dependency),
    each one computes the full unpersisted plan — the expensive
    signature/index work runs 2-4x and the cache blocks collide
    ("Block already exists on this machine" warnings). One count()
    forces a single computation pass before any consumer is planned;
    every branch then reads the cached blocks. The count itself does
    work we'd pay anyway exactly once.

    Project the frame down to the columns the consumers actually need
    BEFORE materializing — caching payload columns (raw text, binary)
    pins ~the whole corpus in memory at scale.

    Cache lifecycle contract: the cache must outlive the RETURNED
    (lazy) DataFrame, so operators cannot unpersist it themselves —
    instead every materialize()d frame is tracked, and callers running
    many operators in one session (pipelines, benchmarks, services)
    should call `release_caches()` once each result is consumed.
    bench.py and examples/llm_corpus_pipeline.py do; tests assert the
    tracker drains to zero persisted RDDs.
    """
    df.persist()
    df.count()
    _TRACKED_FRAMES.append(df)
    return df


def checkpoint_truncate(df: DataFrame) -> DataFrame:
    """Per-round lineage truncation for iterative loops (connected
    components): each round's plan would otherwise chain on the
    previous round's FULL analyzed plan and per-round planning cost
    compounds (measured ~2x per round past round 9 in the former
    per-round BPE trainer). Durable `checkpoint` when the
    session has a checkpoint dir, else `localCheckpoint` — both
    eager, so the returned frame is a leaf."""
    durable = df.sparkSession.sparkContext.getCheckpointDir() is not None
    return df.checkpoint(eager=True) if durable else df.localCheckpoint(eager=True)


def release_checkpoint(df: DataFrame) -> None:
    """Free a superseded round's checkpoint blocks NOW, not at loop
    end: localCheckpoint storage is an internal LogicalRDD persist
    that DataFrame.unpersist cannot reach, so this goes through the
    plan accessor. Best-effort — the accessor is private API, and
    leaving a dead round cached is harmless vs failing. The ONE
    implementation (r13 review: three loops had verbatim copies of
    this private-API poke; a Spark upgrade breaking the accessor
    should need one patch, not three)."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:  # noqa: BLE001 - freeing a dead round is best-effort
        pass


def maybe_broadcast(
    df: DataFrame, *, max_rows: int | None = None, known_count: int | None = None
) -> DataFrame:
    """Size-gated broadcast hint for vocabulary-keyed side tables.

    An unconditional ``F.broadcast`` on a table keyed by corpus
    vocabulary (distinct tokens, shingles, user-supplied weight
    vocabularies, contamination flag sets) is a latent executor-OOM:
    "tiny relative to the corpus" is not "tiny" — at 100 TB of web
    text distinct tokens run ~1e8-1e9 and distinct 2-shingles ~1e10.
    This helper probes the side with a BOUNDED scan
    (``limit(cap + 1).count()`` — the global limit stops after cap+1
    rows, so a 1e9-row side never computes fully just to learn it is
    too big) and attaches the hint only when the count is at or
    under ``max_rows`` (default ``BROADCAST_ROW_CAP``). Above the
    cap it returns the (persisted) frame without the hint: the join
    becomes an ordinary equi-join whose strategy AQE picks from the
    REAL runtime size.

    The side is persist()ed (MEMORY_AND_DISK — spills, so caching a
    big side cannot cause the OOM the gate protects against) BEFORE
    the probe, and the probe runs ``limit(cap+1)`` THROUGH the cache:
    the limit early-exits after cap+1 rows, caching only the
    partitions it scanned, and whichever consumer runs next — the
    broadcast build under the cap, the real join above it — reads
    those cached partitions and computes the rest exactly once. The
    side's lineage (for flag sets an LSH join; for loser sets a
    connected-components pass) is therefore computed ~once on BOTH
    regimes; the previous probe-only cache paid it twice on the
    over-cap path. The cache is tracked for ``release_caches()``,
    the family-wide lifecycle contract.

    Pass ``known_count`` when the caller has already counted the
    frame (skips the probe AND the persist entirely). Callers that
    re-read the side beyond the single gated join should
    ``materialize()`` it THEMSELVES before gating.
    """
    cap = BROADCAST_ROW_CAP if max_rows is None else max_rows
    if known_count is not None:
        return F.broadcast(df) if known_count <= cap else df
    df.persist()
    _TRACKED_FRAMES.append(df)
    n = df.limit(cap + 1).count()
    return F.broadcast(df) if n <= cap else df


def persist_lazy(df: DataFrame) -> DataFrame:
    """persist() WITHOUT the eager count — tracked for
    release_caches() like materialize().

    For frames whose consumers run SEQUENTIALLY (an unrolled
    iterative loop, or reuse inside one downstream action): the first
    consumer populates the cache and later ones read it, with no
    extra materialization job. Prefer :func:`materialize` when the
    consumers are planned as CONCURRENT stages (its docstring's
    scheduling race) — the eager count is the fix for that race, and
    this helper deliberately skips it. Added r15: materialize()'s
    count job costs more than it saves on small frames inside
    per-query fixed-cost paths (measured +0.5 s on the 3-round
    pagerank from three eager counts the loop didn't need)."""
    df.persist()
    _TRACKED_FRAMES.append(df)
    return df


def track_broadcast(bc):
    """Register a SparkContext broadcast for release_caches() destroy.

    For broadcasts that must outlive a returned lazy DataFrame (e.g.
    pq_encode's codebook) and so cannot be destroyed at operator exit.
    """
    _TRACKED_BROADCASTS.append(bc)
    return bc


def track_release(fn) -> None:
    """Register an arbitrary zero-arg cleanup to run at
    release_caches() — for storage DataFrame.unpersist can't reach
    (e.g. graph.connected_components' localCheckpoint RDD backing the
    returned labels frame)."""
    _TRACKED_RELEASERS.append(fn)


def release_caches() -> int:
    """Unpersist every tracked frame and destroy every tracked
    broadcast; returns how many objects were released.

    Safe to call at any point where no tracked operator RESULT is
    still pending an action (the caches exist to serve those plans).
    Errors are swallowed per-object: a stopped session or an
    already-released cache must not mask the caller's work.
    """
    n = 0
    while _TRACKED_FRAMES:
        df = _TRACKED_FRAMES.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    while _TRACKED_BROADCASTS:
        bc = _TRACKED_BROADCASTS.pop()
        try:
            bc.destroy()
            n += 1
        except Exception:
            pass
    while _TRACKED_RELEASERS:
        fn = _TRACKED_RELEASERS.pop()
        try:
            fn()
            n += 1
        except Exception:
            pass
    return n
