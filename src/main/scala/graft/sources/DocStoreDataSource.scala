package graft.sources

import java.io.File
import java.util
import graft.sink.FileDocumentStoreFactory
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** DataSource V2 connector for the file-backed document store (the
  * zero-egress Firestore stand-in the batched sink writes,
  * graft.sink.FileDocumentStoreFactory).
  *
  * READ: every `<root>/<collection>/<docId>.json` back as rows
  * (collection string, doc_id string, count long).
  * `spark.read.format("graft.sources.DocStoreDataSource")
  *    .option("path", root).load()`
  *
  * WRITE: the same row shape upserted through the [[graft.sink.DocumentStore]]
  * SPI in ≤ maxBatchSize batches per partition —
  * `df.write.format("graft.sources.DocStoreDataSource")
  *    .option("path", root).option("maxBatchSize", "500")
  *    .mode("append").save()`.
  * Append IS upsert here (last-write-wins per doc id, the reference's
  * `DocumentReference.set` semantics) — which is what makes the write path
  * safe under Spark task retries without a commit protocol: a re-run task
  * rewrites identical documents, so `commit`/`abort` need no coordination
  * state. A transactional remote store would hook its two-phase commit into
  * [[DocStoreBatchWrite.commit]].
  *
  * Scale shape: reads parallelize across collection directories; writes
  * parallelize per input partition with one store client each (the Spark
  * analogue of one-client-per-bundle, FirestoreUpdateDoFn.java:37-45).
  */
class DocStoreDataSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    DocStoreDataSource.schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new DocStoreTable(properties.get("path"),
      Option(properties.get("maxBatchSize")).map(_.toInt).getOrElse(500))
}

object DocStoreDataSource {
  val schema: StructType = StructType(Seq(
    StructField("collection", StringType, nullable = false),
    StructField("doc_id", StringType, nullable = false),
    StructField("count", LongType, nullable = false)))
}

class DocStoreTable(root: String, maxBatchSize: Int = 500)
    extends Table with SupportsRead with SupportsWrite {
  require(root != null, "option 'path' is required")
  override def name(): String = s"docstore($root)"
  override def schema(): StructType = DocStoreDataSource.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new DocStoreScanBuilder(root,
      Option(options.get("maxEntriesPerTrigger")).map(_.toLong),
      Option(options.get("staleClaimMs")).map(_.toLong),
      Option(options.get("maxDocsPerPartition")).map { v =>
        val n = v.toIntOption // not a regex — "3000000000" must fail HERE
        require(n.exists(_ > 0),
          s"maxDocsPerPartition must be a positive integer, got '$v'")
        n.get
      }.getOrElse(DocStoreScanBuilder.DefaultMaxDocsPerPartition))
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val in = info.schema()
    val expected = DocStoreDataSource.schema.map(f => f.name -> f.dataType)
    val got = in.map(f => f.name -> f.dataType)
    require(got == expected,
      s"docstore write expects schema $expected, got $got")
    val queryId = info.queryId()
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new DocStoreBatchWrite(root, maxBatchSize, queryId)
      }
    }
  }
}

class DocStoreBatchWrite(root: String, maxBatchSize: Int, queryId: String)
    extends BatchWrite {
  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    DocStoreWriterFactory(root, maxBatchSize, queryId)
  // documents are durably upserted (atomic temp-file rename) as each task
  // batch commits; upsert idempotence makes task-level retry safe without
  // a job-level commit protocol (see class doc)
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

case class DocStoreWriterFactory(root: String, maxBatchSize: Int,
    queryId: String) extends DataWriterFactory {
  override def createWriter(
      partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val store = new FileDocumentStoreFactory(root).open()
      private val buf =
        scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
      // flush ordinal within this partition: keyed by (queryId,
      // partitionId, flushSeq, collection, contentHash) — NOT taskId,
      // which changes per attempt — so the store suppresses duplicate
      // change-feed entries from retries and speculative duplicates
      // (commitBatchKeyed). The CONTENT term handles the retry whose
      // re-fetched input iterates in a different order: its flush f0
      // holds different docs than the published f0 and must still
      // reach the feed (at-least-once, never loss) rather than being
      // suppressed by the ordinal marker alone — same contract as
      // DocSink.writeBatched.
      private var flushSeq = 0

      private def flush(): Unit = if (buf.nonEmpty) {
        buf.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (collection, rows) =>
          val docs = rows.toSeq.map { case (_, id, n) =>
            id -> Map("count" -> n) }
          store.commitBatchKeyed(
            graft.sink.DocSink.feedKey(
              s"$queryId/p$partitionId/f$flushSeq/$collection", docs),
            collection, docs)
        }
        flushSeq += 1
        buf.clear()
      }

      override def write(row: InternalRow): Unit = {
        // Reject null keys BEFORE buffering: the schema check upstream
        // compares names/types but not nullability, and commit/abort are
        // deliberately no-ops (upsert idempotence), so an NPE mid-stream
        // would strand earlier durably-upserted batches behind an opaque
        // error. Failing fast with a clear message keeps the task retry
        // path (idempotent re-upsert) the only partial-write story.
        if (row.isNullAt(0) || row.isNullAt(1) || row.isNullAt(2))
          throw new IllegalArgumentException(
            "docstore write: collection, doc_id and count must be " +
              s"non-null (partition $partitionId); null rows must be " +
              "filtered before the sink")
        buf += ((row.getString(0), row.getString(1), row.getLong(2)))
        if (buf.size >= maxBatchSize) flush()
      }
      override def commit(): WriterCommitMessage = {
        flush()
        DocStoreWriteCommitted(partitionId)
      }
      override def abort(): Unit = buf.clear()
      override def close(): Unit = store.close()
    }
}

case class DocStoreWriteCommitted(partitionId: Int)
  extends WriterCommitMessage

/** Scan with BOTH DSv2 pushdown surfaces:
  *
  *  - `SupportsPushDownFilters`: equality/IN predicates on `collection`
  *    prune whole collection DIRECTORIES at planning time (the
  *    connector's partition pruning — the store's layout makes
  *    collection a partition column), and equality/IN predicates on
  *    `doc_id` turn the scan into direct file PROBES of the requested
  *    ids (the store's layout makes a doc id a filename) — a point
  *    lookup costs O(requested ids), never O(collection). Both prunes
  *    are exact, so accepted filters are fully consumed: Spark
  *    re-evaluates nothing.
  *  - `SupportsPushDownRequiredColumns`: readers materialize only the
  *    requested fields — `SELECT doc_id` never builds collection
  *    strings or parses counts.
  *
  * At a 100 TB store this is the difference between listing every
  * directory and touching one file.
  *
  * Two more scale surfaces:
  *
  *  - INTRA-collection parallelism: a collection larger than
  *    `maxDocsPerPartition` (option; default 10k) is split into id
  *    slices — ids are listed ONCE on the driver (filenames only, the
  *    InMemoryFileIndex pattern) and each task point-reads its slice,
  *    so one giant collection no longer serializes into one task.
  *  - `SupportsRuntimeFiltering`: collection/doc_id equality and IN
  *    predicates that only materialize at RUNTIME (broadcast-join keys
  *    — DPP-style) narrow the scan the same way planning-time pushdown
  *    does; a store-side join against a small dim of doc ids becomes
  *    point probes instead of a full scan. Runtime pruning here is
  *    exact, but Spark re-checks join keys anyway, so under-pruning
  *    on unsupported shapes is safe (they are simply ignored). */
object DocStoreScanBuilder {
  /** Collections above this many docs split into multiple input
    * partitions. Sized so a slice's point-reads stay a few seconds of
    * task work while listings this size remain trivial driver state. */
  val DefaultMaxDocsPerPartition: Int = 10000
}

class DocStoreScanBuilder(root: String,
    maxEntriesPerTrigger: Option[Long] = None,
    staleClaimMs: Option[Long] = None,
    maxDocsPerPartition: Int = DocStoreScanBuilder.DefaultMaxDocsPerPartition)
    extends ScanBuilder with Scan
    with Batch with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {
  import org.apache.spark.sql.sources.{EqualTo, Filter, In}

  private var required: StructType = DocStoreDataSource.schema
  private var accepted: Array[Filter] = Array.empty

  /** The one accept predicate BOTH pushdown surfaces share (planned
    * pushFilters and runtime filter() must never drift apart — a shape
    * one accepts and the other drops would make planning-time and
    * runtime pruning disagree). collection prunes directories; doc_id
    * prunes are exact too: the store's layout makes a doc id a
    * FILENAME, so an equality/IN predicate becomes a direct file probe
    * (readDoc/docExists) — a point lookup costs O(requested ids),
    * never O(collection listing). */
  private def accepts(f: Filter): Boolean = f match {
    case EqualTo("collection", _: String) => true
    case In("collection", vs) if vs.forall(_.isInstanceOf[String]) => true
    case EqualTo("doc_id", _: String) => true
    case In("doc_id", vs) if vs.forall(_.isInstanceOf[String]) => true
    case _ => false
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ours, rest) = filters.partition(accepts)
    accepted = ours
    rest // accepted filters are exact prunes — nothing residual
  }
  override def pushedFilters(): Array[Filter] = accepted

  /** Values an accepted pushed filter admits. Pushed filters are
    * CONJUNCTS and Spark never re-applies accepted ones, so the admitted
    * sets must be INTERSECTED — both in the batch prunes and in the
    * streaming allowlists (a union would leak rows a later conjunct
    * excludes, e.g. `isin("a","b") && === "b"`). */
  private def admitted(f: Filter): Set[String] = f match {
    case EqualTo(_, v: String) => Set(v)
    case In(_, vs) => vs.collect { case s: String => s }.toSet
    case other => sys.error(s"filter was never accepted: $other")
  }

  private def acceptedOn(attr: String): Array[Filter] = accepted.filter {
    case EqualTo(a, _) => a == attr
    case In(a, _) => a == attr
    case _ => false
  }

  /** Intersection of all accepted doc_id conjuncts; None = no doc_id
    * predicate was pushed (scan the whole collection). */
  private def allowedDocs: Option[Set[String]] = {
    val fs = acceptedOn("doc_id")
    if (fs.isEmpty) None else Some(fs.map(admitted).reduce(_ intersect _))
  }

  // ---- SupportsRuntimeFiltering: DPP-style pruning at execution ----
  // Runtime filters arrive AFTER planning (broadcast-join key sets);
  // accepting the same exact shapes simply appends them to `accepted`,
  // and planInputPartitions — which Spark re-invokes after filter() —
  // recomputes the directory/file prunes. Unsupported shapes are
  // dropped: runtime pruning may under-prune (the join re-checks its
  // keys), never over-prune (the shapes we accept are exact).
  override def filterAttributes():
      Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(
      org.apache.spark.sql.connector.expressions.Expressions
        .column("collection"),
      org.apache.spark.sql.connector.expressions.Expressions
        .column("doc_id"))

  override def filter(filters: Array[Filter]): Unit =
    accepted = accepted ++ filters.filter(accepts)

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = this
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    // `_`-prefixed directories are store metadata (the change feed),
    // not collections — the usual lake convention
    val all = Option(new File(root).listFiles())
      .getOrElse(Array.empty[File])
      .filter(f => f.isDirectory && !f.getName.startsWith("_"))
      .map(_.getName).sorted
    val allowed = acceptedOn("collection").foldLeft(all.toSet)((acc, f) =>
      acc.intersect(admitted(f)))
    val docs = allowedDocs.map(_.toSeq.sorted)
    val store = new FileDocumentStoreFactory(root)
    all.filter(allowed).flatMap { c =>
      // ids to read in this collection: the pushed doc_id set if any,
      // else — only when a cheap raw-filename COUNT says the collection
      // is big enough that slicing pays — a driver-side id listing
      // (filenames only, never bodies). Small collections skip the
      // decode entirely and keep executor-side listing.
      val ids: Option[Seq[String]] = docs.orElse {
        if (store.docCount(c) > maxDocsPerPartition)
          Some(store.readIds(c).sorted)
        else None
      }
      ids match {
        case Some(s) if s.size > maxDocsPerPartition =>
          s.grouped(maxDocsPerPartition).map(slice =>
            DocStorePartition(root, c, required.fieldNames,
              Some(slice)): InputPartition).toSeq
        case other =>
          Seq(DocStorePartition(root, c, required.fieldNames,
            other): InputPartition)
      }
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new DocStoreReaderFactory

  /** Streaming read = the store's CHANGE FEED (one row per upserted doc
    * per commit — Firestore's watch stream), not a re-scan of current
    * state; the batch path above stays the state read. Accepted
    * collection filters and pruned columns apply to the feed too (the
    * reader enforces the allowlist itself, since accepted pushed
    * filters are never re-evaluated by Spark); like the batch prune,
    * conjuncts intersect. */
  override def toMicroBatchStream(
      checkpointLocation: String): org.apache.spark.sql.connector.read
        .streaming.MicroBatchStream = {
    val cols = acceptedOn("collection")
    val allowed: Option[Set[String]] =
      if (cols.isEmpty) None
      else Some(cols.map(admitted).reduce(_ intersect _))
    new DocStoreMicroBatchStream(root, required.fieldNames, allowed,
      maxEntriesPerTrigger, staleClaimMs, allowedDocs)
  }
}

/** Micro-batch tail of [[graft.sink.DocStoreChangelog]]: offsets are the
  * feed's dense sequence numbers, a batch covers (start, end], and
  * `latestOffset` only advances over the fully-written prefix — so a
  * claimed-but-in-flight commit holds the offset back and no entry is
  * ever skipped. Same offsets ⇒ same rows (entries are immutable), which
  * is the replayable-source half of exactly-once; restarting from a
  * checkpoint resumes after the last committed sequence.
  *
  * Scale shape: one input partition per feed entry (a committed batch,
  * ≤ maxBatchSize docs) — reader parallelism tracks commit volume per
  * micro-batch; at a real deployment the feed directory is the analogue
  * of a change-stream shard and `commit(end)` is where consumed entries
  * would be truncated/archived (kept here — replay is the test story). */
class DocStoreMicroBatchStream(root: String, fields: Array[String],
    allowed: Option[Set[String]], maxEntriesPerTrigger: Option[Long] = None,
    staleClaimMs: Option[Long] = None,
    allowedDocs: Option[Set[String]] = None)
  extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  // Trigger.AvailableNow contract: snapshot the feed's end AT START and
  // drain up to exactly there in per-trigger-sized batches. Without this
  // interface Spark degrades AvailableNow to Trigger.Once semantics —
  // ONE micro-batch — which under maxEntriesPerTrigger=1 admission
  // control silently replicated a single feed entry and terminated
  // (found by the sf1-volume FeedReplicate spec: the destination store
  // froze at the first commit's values).
  @volatile private var availableNowCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap =
      Some(graft.sink.DocStoreChangelog.latestComplete(root, staleMs))

  // `.option("staleClaimMs", ms)` tunes the abandoned-claim reclaim
  // window (see DocStoreChangelog.latestComplete) — how long a
  // zero-length sequence claim may hold the feed before the source
  // tombstones it and advances
  private val staleMs =
    staleClaimMs.getOrElse(graft.sink.DocStoreChangelog.DefaultStaleClaimMs)

  private case class SeqOffset(seq: Long) extends Offset {
    override def json(): String = seq.toString
  }

  override def initialOffset(): Offset = SeqOffset(-1L)
  override def latestOffset(): Offset =
    SeqOffset(graft.sink.DocStoreChangelog.latestComplete(root, staleMs))
  /** Admission control: `.option("maxEntriesPerTrigger", n)` caps each
    * micro-batch at n feed entries (= n committed store batches), so a
    * long backlog replays as a SEQUENCE of small ordered batches instead
    * of one giant one — which is also what makes last-write-wins
    * REPLICATION through the feed order-correct when n = 1 (two upserts
    * of the same doc in one batch would race across partitions; one
    * entry per trigger applies them in commit order). */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[SeqOffset].seq
    val live = graft.sink.DocStoreChangelog.latestComplete(root, staleMs)
    // under AvailableNow, never admit past the at-start snapshot (new
    // commits racing the drain belong to the next run)
    val complete = availableNowCap.fold(live)(math.min(live, _))
    SeqOffset(maxEntriesPerTrigger.fold(complete)(n => math.min(complete, s + n)))
  }
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def reportLatestOffset(): Offset =
    SeqOffset(graft.sink.DocStoreChangelog.latestComplete(root, staleMs))
  override def deserializeOffset(json: String): Offset =
    SeqOffset(json.trim.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(
      start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[SeqOffset].seq
    val e = end.asInstanceOf[SeqOffset].seq
    ((s + 1) to e).map(n =>
      DocStoreFeedPartition(root, n, fields, allowed,
        allowedDocs): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new DocStoreFeedReaderFactory
}

case class DocStoreFeedPartition(root: String, seq: Long,
    fields: Array[String], allowed: Option[Set[String]],
    allowedDocs: Option[Set[String]] = None)
  extends InputPartition

class DocStoreFeedReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[DocStoreFeedPartition]
    new PartitionReader[InternalRow] {
      // reader-enforced allowlists: accepted pushed filters are never
      // re-evaluated by Spark, so BOTH the collection and doc_id
      // conjuncts must be applied here (feed entries interleave docs,
      // so doc_id pushdown filters rows, not entries)
      private val rows = graft.sink.DocStoreChangelog
        .entries(part.root, part.seq - 1, part.seq)
        .filter { case (c, id, _) =>
          part.allowed.forall(_.contains(c)) &&
            part.allowedDocs.forall(_.contains(id)) }
        .iterator
      private var current: InternalRow = _
      override def next(): Boolean =
        if (rows.hasNext) {
          val (collection, id, count) = rows.next()
          current = InternalRow(part.fields.map {
            case "collection" => UTF8String.fromString(collection)
            case "doc_id" => UTF8String.fromString(id)
            case "count" => count
          }.toIndexedSeq: _*)
          true
        } else false
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}

case class DocStorePartition(root: String, collection: String,
    fields: Array[String], docIds: Option[Seq[String]] = None)
  extends InputPartition

class DocStoreReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[DocStorePartition]
    new PartitionReader[InternalRow] {
      // pruning reaches the I/O layer (review round-16): a schema with
      // no `count` column reads doc ids from FILENAMES only — no doc
      // body is opened or parsed, so `SELECT doc_id` scans cost one
      // directory listing instead of N file reads. A pushed doc_id
      // predicate goes further: direct file PROBES of just the
      // requested ids — no listing at all (the point-lookup path; a
      // probe of a missing id yields no row, which is exactly the
      // predicate's semantics since accepted filters are consumed)
      private val needsFields = part.fields.contains("count")
      private val store = new FileDocumentStoreFactory(part.root)
      private val docs: Iterator[(String, Map[String, Long])] =
        part.docIds match {
          case Some(ids) if needsFields =>
            ids.iterator.flatMap(id =>
              store.readDoc(part.collection, id).map(id -> _))
          case Some(ids) =>
            ids.iterator.filter(store.docExists(part.collection, _))
              .map(_ -> Map.empty[String, Long])
          case None if needsFields =>
            store.readAll(part.collection).toSeq.sortBy(_._1).iterator
          case None =>
            store.readIds(part.collection).sorted.iterator
              .map(_ -> Map.empty[String, Long])
        }
      private var current: InternalRow = _
      override def next(): Boolean =
        if (docs.hasNext) {
          val (id, fields) = docs.next()
          // project to the pruned schema, in its field order; the feed
          // value rule (count, else the lone field) matches the change
          // feed's — batch scan and stream replay agree on non-default
          // field names
          current = InternalRow(part.fields.map {
            case "collection" => UTF8String.fromString(part.collection)
            case "doc_id" => UTF8String.fromString(id)
            case "count" => graft.sink.DocStoreChangelog.feedValue(fields)
          }.toIndexedSeq: _*)
          true
        } else false
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}
