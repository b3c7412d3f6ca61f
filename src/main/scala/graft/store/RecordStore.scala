package graft.store

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.{Dataset, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.{VectorMath, VectorSumAggregator, vector}
import graft.model.SumRecord

/** Errors with the reference's exact message strings. */
object StoreErrors {
  /** node/storage/index.go ErrInvalidID. */
  val InvalidId = "identifier is not unique"
  def recordNotFound(id: Long): String = s"record $id not found."
  def oracleNotFound(id: Long): String = s"oracle $id not found."
  def oracleNotFoundByName(name: String): String = s"oracle $name not found."
}

/** One page of a sorted record listing (node/service/records.go:66-114). */
final case class RecordPage(total: Long, pages: Long, records: Seq[SumRecord])

/** Driver-resident copy of a store's records: sorted by id (a stable sort,
  * so records sharing an id keep their Dataset order) with the ids
  * alongside for binary search. Immutable; a write derives the next one.
  * Readers get the stored records themselves, which nothing mutates.
  */
private[store] final class Snapshot private (val rows: Array[SumRecord]) {
  private val ids: Array[Long] = rows.map(_.id)

  def size: Int = rows.length

  /** The first record with this id, as the Dataset's `limit(1)` finds it. */
  def find(id: Long): Option[SumRecord] = {
    var lo = 0
    var hi = ids.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (ids(mid) < id) lo = mid + 1 else hi = mid
    }
    if (lo < ids.length && ids(lo) == id) Some(rows(lo)) else None
  }

  /** Drop every record whose id is in `removed`, then append `added` —
    * the snapshot form of the Dataset's anti-filter + union.
    */
  def change(removed: Set[Long], added: Seq[SumRecord]): Snapshot =
    Snapshot((rows.iterator.filterNot(r => removed(r.id)) ++ added).toArray)
}

private[store] object Snapshot {
  def apply(rows: Array[SumRecord]): Snapshot = new Snapshot(rows.sortBy(_.id))
}

/** Mutable record store with the reference's CRUD semantics
  * (node/storage/index.go, records.go). A store whose record count was
  * within [[RecordStore.MaxCollectRowsKey]] when it was built is
  * resident: its records live only in a driver-side [[Snapshot]], like
  * the reference node's in-memory index. A larger store keeps them in a
  * cached Spark Dataset.
  *
  * Design: copy-on-write. The store's state is one immutable value — the
  * records, the next sequential id and the set of meta keys ever indexed
  * (the reference's driver-side state, index.go:154-172,
  * records.go:8-48) — published in one volatile write under the lock;
  * readers take one consistent reference with no lock. Each write states
  * its change once, as (removed ids, added records): a resident store
  * derives its next snapshot from it on the driver and starts no Spark
  * job; a store that is, or that the write takes, over the cap derives,
  * persists and counts the next Dataset from it. A write that takes a
  * resident store over the cap drops the snapshot for good. Batch
  * mutations (createManyWithId) validate first and publish once, which
  * is what makes the reference's rollback semantics (index.go:190-218)
  * free: a failed batch never becomes visible.
  *
  * Serving reads — [[find]], [[findBy]], [[list]], [[size]], [[all]],
  * [[similarTo]], [[sumVectors]] — answer from the snapshot when there is
  * one and from plans over the Dataset otherwise. [[records]] and the
  * `*Ds` reads always return Dataset plans, so the queries, ops and
  * distributed-oracle layers see the same records at any size; a
  * resident state derives its Dataset on first use as an uncached local
  * relation over the snapshot rows and keeps it for the state's life.
  * Point lookups are pushdown filters on the id column, and persistence
  * is parquet (replacing the reference's one-protobuf-file-per-record
  * layout, node/storage/saver.go:12-20).
  */
final class RecordStore private (
    val spark: SparkSession,
    initial: RecordStore.State) {

  import spark.implicits._
  import RecordStore.{CollectCapExceeded, State, keysOf, maxCollectRows, resident}

  @volatile private var state: State = initial

  /** Apply one write — drop the records whose id is in `removed`, then
    * append `added` — and publish the next state. A resident store that
    * stays within the cap derives its next snapshot with no Spark job;
    * otherwise the next Dataset is persisted and materialized before the
    * old cache is dropped. Returns the new record count. Callers hold
    * the lock.
    */
  private def commit(removed: Set[Long], added: Seq[SumRecord]): Long = {
    val old = state
    val nextId = (old.nextId +: added.map(_.id + 1)).max
    val keys = old.metaKeys ++ added.flatMap(keysOf)
    state = old.snapshot.map(_.change(removed, added))
        .filter(_.size <= maxCollectRows(spark)) match {
      case Some(snap) => resident(spark, snap, nextId, keys)
      case None => new State(old.ds.filter(!col("id").isin(removed.toSeq: _*)).union(
        spark.createDataset(added)).persist(StorageLevel.MEMORY_AND_DISK), nextId, keys, None)
    }
    val count = sizeOf(state) // on the Dataset path, materializes the new cache
    if (old.snapshot.isEmpty) old.ds.unpersist()
    count
  }

  private def sizeOf(s: State): Long = s.snapshot.fold(s.ds.count())(_.size.toLong)

  def records: Dataset[SumRecord] = state.ds

  /** Release a Dataset-path store's cached blocks (the persist taken by
    * a write or a constructor; a resident store caches nothing). Call when
    * done with a short-lived store — each query-scoped store otherwise
    * pins its cached dataset for the app lifetime. The store must not be
    * used afterwards.
    */
  def close(): Unit = synchronized { if (state.snapshot.isEmpty) state.ds.unpersist() }

  /** The same records re-bucketed into `n` partitions — the Spark form of
    * the reference master's transfer/balance verbs (each partition is a
    * "node"; re-sharding is a repartition, not a data migration).
    */
  def repartitioned(n: Int): RecordStore = {
    val s = state
    new RecordStore(spark, new State(s.ds.repartition(n), s.nextId, s.metaKeys, s.snapshot))
  }

  def size: Long = sizeOf(state)

  def nextId: Long = state.nextId

  /** Insert with a server-assigned sequential id (index.go:154-172). */
  def create(record: SumRecord): Either[String, SumRecord] = synchronized {
    createWithId(SumRecord.withDefaultShape(record).copy(id = state.nextId))
  }

  /** Insert with the caller's id; fails when the id exists (index.go:174-188). */
  def createWithId(record: SumRecord): Either[String, SumRecord] = synchronized {
    val rec = SumRecord.withDefaultShape(record)
    if (find(rec.id).isDefined) Left(StoreErrors.InvalidId)
    else {
      commit(Set.empty, Seq(rec))
      Right(rec)
    }
  }

  /** Batch insert; all-or-nothing like the reference's rollback
    * (index.go:190-218) — validation happens before the single commit.
    */
  def createManyWithId(recs: Seq[SumRecord]): Either[String, Long] = synchronized {
    val s = state
    val normalized = recs.map(SumRecord.withDefaultShape)
    val ids = normalized.map(_.id)
    val clash = ids.distinct.size != ids.size || (s.snapshot match {
      case Some(snap) => ids.exists(id => snap.find(id).isDefined)
      case None => s.ds.filter(col("id").isin(ids: _*)).limit(1).count() > 0
    })
    if (clash) Left(StoreErrors.InvalidId)
    else {
      commit(Set.empty, normalized)
      Right(normalized.size.toLong)
    }
  }

  /** Partial update: only the filled fields of `patch` overwrite the stored
    * record (RecordDriver.Copy, node/storage/record_driver.go:32-45).
    */
  def update(patch: SumRecord): Either[String, SumRecord] = synchronized {
    find(patch.id) match {
      case None => Left(StoreErrors.recordNotFound(patch.id))
      case Some(old) =>
        val merged = old.copy(
          data = if (patch.data != null && patch.data.nonEmpty) patch.data else old.data,
          shape = if (patch.shape != null && patch.shape.nonEmpty) patch.shape else old.shape,
          meta = if (patch.meta != null && patch.meta.nonEmpty) patch.meta else old.meta)
        commit(Set(patch.id), Seq(merged))
        Right(merged)
    }
  }

  /** Point lookup (index.go:239-248). */
  def find(id: Long): Option[SumRecord] = {
    val s = state
    s.snapshot match {
      case Some(snap) => snap.find(id)
      case None => s.ds.filter(col("id") === id).limit(1).collect().headOption
    }
  }

  /** Remove by id, returning the removed record (index.go:253-270). */
  def delete(id: Long): Either[String, SumRecord] = synchronized {
    find(id) match {
      case None => Left(StoreErrors.recordNotFound(id))
      case Some(r) =>
        commit(Set(id), Nil)
        Right(r)
    }
  }

  def deleteMany(ids: Seq[Long]): Long = synchronized {
    val before = size
    before - commit(ids.toSet, Nil)
  }

  /** Equality filter on one metadata key. Returns None — distinct from an
    * empty result — when the key was never indexed, matching the
    * reference's nil-vs-empty contract (node/storage/records.go:103-123).
    *
    * Materializes to the driver (reference-parity API: sum returns the
    * matched records), so the result is capped at
    * [[RecordStore.MaxCollectRowsKey]] rows — a loud error beats an OOM
    * when the API is pointed at corpus-scale data. The scale-safe form
    * is [[findByDs]].
    */
  def findBy(key: String, value: String): Option[Seq[SumRecord]] = {
    val s = state
    if (!s.metaKeys.contains(key)) None
    else {
      val cap = maxCollectRows(spark)
      val rows = s.snapshot match {
        case Some(snap) => snap.rows.iterator
            .filter(r => r.meta != null && r.meta.get(key).contains(value))
            .take(cap + 1).toVector
        case None => s.ds.filter(element_at(col("meta"), key) === value)
            .limit(cap + 1).collect().toVector
      }
      if (rows.length > cap) throw new CollectCapExceeded(cap,
        s"findBy matched more than $cap records; use findByDs or raise " +
          RecordStore.MaxCollectRowsKey)
      Some(rows)
    }
  }

  /** Dataset-returning [[findBy]]: the same nil-vs-empty contract with no
    * driver materialization — compose further operators on the result at
    * any store size.
    */
  def findByDs(key: String, value: String): Option[Dataset[SumRecord]] = {
    val s = state
    if (!s.metaKeys.contains(key)) None
    else Some(s.ds.filter(element_at(col("meta"), key) === value))
  }

  /** Id-sorted pagination with the reference's exact clamp/ceil/slice rules
    * (node/service/records.go:66-114): page and perPage clamp to >= 1;
    * pages = ceil(total / perPage); an out-of-range page returns totals
    * with no records.
    */
  def list(pageReq: Long, perPageReq: Long): RecordPage = {
    val s = state
    val page = math.max(pageReq, 1L)
    val perPage = math.max(perPageReq, 1L)
    val cap = maxCollectRows(spark)
    // The page itself is driver-materialized (reference-parity), so the
    // page SIZE is what must stay bounded — not the store.
    if (perPage > cap) throw new CollectCapExceeded(cap,
      s"page size $perPage exceeds $cap; use listDs or raise " +
        RecordStore.MaxCollectRowsKey)
    val total = sizeOf(s)
    val start = (page - 1) * perPage
    val pages = total / perPage + (if (total % perPage > 0) 1 else 0)
    if (total <= start) RecordPage(total, pages, Seq.empty)
    else RecordPage(total, pages, s.snapshot match {
      case Some(snap) => ArraySeq.unsafeWrapArray(
        snap.rows.slice(start.toInt, math.min(start + perPage, total).toInt))
      case None => s.ds.orderBy(col("id")).offset(start.toInt)
          .limit(perPage.toInt).collect().toSeq
    })
  }

  /** Dataset-returning [[list]]: same clamp/ceil/slice rules, but the page
    * stays a distributed plan (global sort + offset + limit — Spark plans
    * the offset+limit as a single-pass skip, no driver pull).
    */
  def listDs(pageReq: Long, perPageReq: Long): (Long, Long, Dataset[SumRecord]) = {
    val s = state
    val page = math.max(pageReq, 1L)
    val perPage = math.max(perPageReq, 1L)
    val total = sizeOf(s)
    val start = (page - 1) * perPage
    val pages = total / perPage + (if (total % perPage > 0) 1 else 0)
    if (total <= start) (total, pages, s.ds.limit(0))
    else (total, pages,
      s.ds.orderBy(col("id")).offset(start.toInt).limit(perPage.toInt))
  }

  /** Every record, id-sorted, on the driver — capped at
    * [[RecordStore.MaxCollectRowsKey]] rows like [[findBy]].
    */
  def all(): Seq[SumRecord] = {
    val s = state
    val cap = maxCollectRows(spark)
    val rows = s.snapshot match {
      case Some(snap) => ArraySeq.unsafeWrapArray(snap.rows)
      case None => s.ds.orderBy(col("id")).limit(cap + 1).collect().toSeq
    }
    if (rows.length > cap) throw new CollectCapExceeded(cap,
      s"all() would materialize more than $cap records; use records or " +
        "raise " + RecordStore.MaxCollectRowsKey)
    rows
  }

  /** (id, cosine) of every record but `excludeId` whose cosine to `ref`
    * is >= `threshold` under Spark's double ordering (NaN sorts above
    * every number). The cosine runs over the common prefix and equals the
    * Catalyst expression's cosine on the widened arrays bit for bit.
    *
    * The resident scan takes `ref`'s squared norm once per call. A row of
    * `ref`'s length costs one [[VectorMath.dot]]: its norm is the row
    * object's cached [[SumRecord.squaredNorm]], which a write carries over
    * for every row it leaves unchanged. A row of another length needs the
    * norms of the common prefix only, so it runs the one-pass
    * [[VectorMath.cosine]] instead. Only a hit allocates.
    */
  def similarTo(ref: Array[Float], threshold: Double,
      excludeId: Long): Seq[(Long, Double)] = {
    val s = state
    s.snapshot match {
      case Some(snap) =>
        val rows = snap.rows
        val nb = if (ref == null) 0.0 else VectorMath.squaredNorm(ref)
        val hits = Vector.newBuilder[(Long, Double)]
        var i = 0
        while (i < rows.length) {
          val x = rows(i)
          val d = x.data
          if (x.id != excludeId && d != null) {
            val sim =
              if (d.length == ref.length)
                VectorMath.cosineOf(VectorMath.dot(d, ref, 0, d.length), x.squaredNorm, nb)
              else VectorMath.cosine(d, ref, 0, math.min(d.length, ref.length))
            if (SQLOrderingUtil.compareDoubles(sim, threshold) >= 0) hits += ((x.id, sim))
          }
          i += 1
        }
        hits.result()
      case None =>
        val refCol = array(ref.map(lit).toIndexedSeq: _*)
        s.ds.filter(col("id") =!= excludeId)
          .select(col("id"), vector.cosine(col("data"), refCol).as("sim"))
          .filter(col("sim") >= threshold)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toVector
    }
  }

  /** Element-wise float64 sum of every record's vector (empty for an
    * empty store); the resident fold adds in id order with the
    * aggregator's own [[VectorMath.accumulate]].
    */
  def sumVectors(): Array[Double] = {
    val s = state
    s.snapshot match {
      case Some(snap) => snap.rows.foldLeft(Array.emptyDoubleArray)(
        (acc, r) => VectorMath.accumulate(acc, r.data))
      case None => s.ds.map(_.data).select(new VectorSumAggregator().toColumn)
          .collect().headOption.getOrElse(Array.emptyDoubleArray)
    }
  }

  /** Persist as parquet (replaces the reference's .dat-per-record layout). */
  def save(path: String): Unit =
    state.ds.write.mode(SaveMode.Overwrite).parquet(path)
}

object RecordStore {

  /** Conf key capping driver-materializing record reads (default 100000):
    * [[RecordStore.findBy]] results, [[RecordStore.list]] page sizes and
    * [[RecordStore.all]]. A store whose record count is within it when
    * built keeps a driver-resident snapshot.
    */
  val MaxCollectRowsKey = "graft.store.maxCollectRows"

  private[graft] def maxCollectRows(spark: SparkSession): Int =
    spark.conf.get(MaxCollectRowsKey, "100000").toInt

  /** A driver-materializing read that would pass [[MaxCollectRowsKey]]. */
  final class CollectCapExceeded(val cap: Int, msg: String)
      extends IllegalStateException(msg)

  /** One consistent store state: readers take it whole. `dataset` is
    * evaluated once, on first use of `ds`.
    */
  private[store] final class State(dataset: => Dataset[SumRecord],
      val nextId: Long, val metaKeys: Set[String], val snapshot: Option[Snapshot]) {
    lazy val ds: Dataset[SumRecord] = dataset
  }

  /** A resident state: its Dataset is an uncached local relation over the
    * snapshot rows.
    */
  private def resident(spark: SparkSession, snap: Snapshot, nextId: Long,
      metaKeys: Set[String]): State =
    new State(spark.createDataset(ArraySeq.unsafeWrapArray(snap.rows))(Encoders.product[SumRecord]),
      nextId, metaKeys, Some(snap))

  private def keysOf(r: SumRecord): Iterable[String] =
    if (r.meta == null) Nil else r.meta.keys

  def empty(spark: SparkSession): RecordStore = fromRows(spark, Array.empty)

  /** A resident store over `rows`; nextId is max(id)+1 and the key set
    * is rebuilt, as the reference does on boot (index.go:72-102).
    */
  private def fromRows(spark: SparkSession, rows: Array[SumRecord]): RecordStore = {
    val snap = Snapshot(rows)
    new RecordStore(spark, resident(spark, snap,
      snap.rows.lastOption.fold(0L)(_.id) + 1, snap.rows.iterator.flatMap(keysOf).toSet))
  }

  /** Persist `records` and count them (which materializes the cache).
    * Within the cap the rows come to the driver in one collect, the cache
    * is dropped and the store is resident; over the cap, two KB-sized
    * aggregates compute nextId and the meta key set, and the store stays
    * on the cached Dataset.
    */
  private def build(spark: SparkSession, records: Dataset[SumRecord]): RecordStore = {
    import spark.implicits._
    val ds = records.persist(StorageLevel.MEMORY_AND_DISK)
    // An RDD count: one job, where Dataset.count adds an aggregate stage.
    if (ds.queryExecution.toRdd.count() <= maxCollectRows(spark)) {
      val rows = ds.collect()
      ds.unpersist()
      fromRows(spark, rows)
    } else {
      val maxId = ds.agg(max(col("id"))).collect().head match {
        case row if row.isNullAt(0) => 0L
        case row                    => row.getLong(0)
      }
      val keys = ds.select(explode(map_keys(col("meta"))).as("k"))
        .distinct().as[String].collect().toSet
      new RecordStore(spark, new State(ds, maxId + 1, keys, None))
    }
  }

  /** Wrap an existing Dataset as a store — the ingest path for
    * lake-resident corpora; rows reach the driver only within the cap.
    */
  def fromDataset(spark: SparkSession,
      records: Dataset[SumRecord]): RecordStore = {
    import spark.implicits._
    build(spark, records.map(SumRecord.withDefaultShape))
  }

  def fromRecords(spark: SparkSession, recs: Seq[SumRecord]): RecordStore = {
    import spark.implicits._
    val normalized = recs.map(SumRecord.withDefaultShape)
    if (normalized.map(_.id).distinct.size != normalized.size)
      throw new IllegalArgumentException(StoreErrors.InvalidId)
    if (normalized.size <= maxCollectRows(spark)) fromRows(spark, normalized.toArray)
    else build(spark, spark.createDataset(normalized))
  }

  /** Load a persisted store. */
  def load(spark: SparkSession, path: String): RecordStore = {
    import spark.implicits._
    build(spark, spark.read.schema(SumRecord.schema).parquet(path).as[SumRecord])
  }
}
