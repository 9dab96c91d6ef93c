package graft.sink

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** Target-agnostic keyed-document store SPI.
  *
  * Mirrors the reference's `InputToDocumentRefUpdater<T>` contract
  * (/root/reference/src/main/java/org/rm3l/beam/firestore/FirestoreUpdateDoFn.java:97-101):
  * the sink is deliberately generic over the element type and the backing
  * store. In the reference the store is Google Cloud Firestore; in this
  * zero-egress environment the provided implementations are local, but the
  * sink operators ([[DocSink]]) only ever talk to this trait, so a real
  * remote store plugs in unchanged.
  *
  * Semantics pinned by the reference:
  *  - each document write is a keyed upsert (`DocumentReference.set`,
  *    last-write-wins — impl/NaiveImplementation.java:55-60) => idempotent,
  *    safe under Spark task retries (at-least-once delivery converges to
  *    effectively-once state).
  *  - `commitBatch` commits a buffered group of ≤ maxBatchSize upserts
  *    atomically (the *intended* semantics of FirestoreUpdateDoFn.java:78-95;
  *    see SURVEY.md §2.1 fidelity note).
  */
trait DocumentStore extends AutoCloseable {
  /** Atomically upsert a batch of (docId -> fields) documents. */
  def commitBatch(collection: String, docs: Seq[(String, Map[String, Long])]): Unit
  /** Retry-safe batch commit: `key` identifies the LOGICAL batch across
    * Spark task retries and speculative attempts (e.g.
    * queryId/partitionId/flush-ordinal). Document upserts are already
    * idempotent, but a store may carry non-idempotent side effects — the
    * file store's change feed — and those must publish AT MOST ONCE per
    * key. Default: plain `commitBatch` (stores whose commits have no
    * such side effects need nothing more). Spark-side sinks
    * ([[DocSink]], the DSv2 writer) always commit through this method
    * with a deterministic per-attempt-stable key. */
  def commitBatchKeyed(key: String, collection: String,
                       docs: Seq[(String, Map[String, Long])]): Unit =
    commitBatch(collection, docs)
  def close(): Unit = ()
}

/** Serializable factory — one store client is opened per partition (the
  * Spark analogue of Beam's one-client-per-bundle, FirestoreUpdateDoFn.java:37-45)
  * so only the factory closure crosses the driver→executor boundary, exactly
  * like the reference's serializable updater (FirestoreUpdateDoFn.java:98).
  */
trait DocumentStoreFactory extends Serializable {
  def open(): DocumentStore
}

/** In-memory store for tests. JVM-local (works in local[*] where executors
  * share the driver JVM). Thread-safe: concurrently-running partitions all
  * write to the shared map; commits are serialized by a per-store lock so
  * two batches never interleave their puts. (Honesty note: a concurrent
  * READER iterating storeFor(name) without the lock can still observe a
  * half-applied batch — full batch isolation for readers would need the
  * TrieMap snapshot API; test assertions read after job completion, where
  * this cannot occur.)
  */
object InMemoryDocumentStore {
  private val stores =
    new ConcurrentHashMap[String, TrieMap[(String, String), Map[String, Long]]]()

  def storeFor(name: String): TrieMap[(String, String), Map[String, Long]] =
    stores.computeIfAbsent(name, _ => TrieMap.empty)

  def clear(name: String): Unit = stores.remove(name)

  /** Count of commitBatch calls per store — lets tests assert flush cadence
    * (⌈N/B⌉ batches for N elements, FirestoreUpdateDoFn.java:53-55,61). */
  private val commits = new ConcurrentHashMap[String, java.lang.Long]()
  def commitCount(name: String): Long =
    Option(commits.get(name)).map(_.longValue()).getOrElse(0L)

  def factory(name: String): DocumentStoreFactory = new DocumentStoreFactory {
    def open(): DocumentStore = new DocumentStore {
      private val m = storeFor(name)
      def commitBatch(collection: String,
                      docs: Seq[(String, Map[String, Long])]): Unit = {
        // per-store lock: batches from concurrent partitions must not
        // interleave (the commitBatch contract); see the object doc's
        // honesty note on unlocked readers
        m.synchronized {
          docs.foreach { case (id, fields) => m.put((collection, id), fields) }
        }
        commits.merge(name, 1L, (a, b) => a + b)
      }
    }
  }
}

/** Filesystem-backed store: one small JSON file per document at
  * `root/collection/<enc(docId)>.json`, written atomically via temp-file
  * rename. Upsert = overwrite => idempotent under retries. This is the
  * zero-egress stand-in for the Firestore collection the reference writes
  * (impl/BatchWriteImplementation.java:45-50).
  *
  * Doc ids are DATA and may contain anything (quotes, newlines, `/`,
  * unicode): file names use a percent-encoding of the id's UTF-8 bytes
  * (alnum, `-`, `_`, `.` pass through — so ordinary word ids keep plain
  * readable file names) and `readAll` decodes them back. Collection
  * names are API-level identifiers (they become directory names and
  * DSv2 partition values) and are validated instead: letters, digits,
  * `-`, `_`, `.`, not starting with `_` (store metadata) or `.`.
  */
object FileDocumentStoreFactory {
  private[sink] def encodeId(id: String): String =
    id.getBytes(StandardCharsets.UTF_8).zipWithIndex.flatMap { case (b, i) =>
      val c = b.toInt & 0xff
      // a LEADING '.' is escaped (review round-16): '.x' would encode
      // to the dot-file '.x.json', which readAll's dot-file filter
      // excludes — the doc would be durable yet invisible to every
      // batch read. Mid-id dots still pass through for readable names.
      if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
          (c >= '0' && c <= '9') || c == '-' || c == '_' ||
          (c == '.' && i > 0))
        c.toChar.toString
      else f"%%$c%02X"
    }.mkString

  private[sink] def decodeId(name: String): String = {
    val out = new java.io.ByteArrayOutputStream(name.length)
    var i = 0
    while (i < name.length) {
      if (name(i) == '%' && i + 2 < name.length) {
        out.write(Integer.parseInt(name.substring(i + 1, i + 3), 16)); i += 3
      } else { out.write(name(i).toInt); i += 1 }
    }
    new String(out.toByteArray, StandardCharsets.UTF_8)
  }

  private[sink] def requireValidCollection(c: String): Unit =
    require(c.nonEmpty && !c.startsWith("_") && !c.startsWith(".") &&
      c.forall(ch => ch.isLetterOrDigit || ch == '-' || ch == '_' || ch == '.'),
      s"invalid collection name '$c': collections become directory names " +
        "and DSv2 partition values — use letters/digits/-/_/. and do not " +
        "start with '_' or '.'")

  /** Parse one doc body (`{"k": v, ...}` with validated field names —
    * see [[requireValidField]], which is what keeps this split-based
    * reader sound). Shared by the full-scan and point-read paths. */
  private[sink] def parseFields(body: String): Map[String, Long] =
    body.stripPrefix("{").stripSuffix("}").split(",")
      .filter(_.trim.nonEmpty)
      .map { kv =>
        val Array(k, v) = kv.split(":").map(_.trim)
        k.stripPrefix("\"").stripSuffix("\"") -> v.toLong
      }.toMap

  /** Field names are schema-level identifiers (DataFrame column names),
    * not data like doc ids — validated, not encoded (review round-16: an
    * unguarded '"', ':' or ',' in a field name writes a doc file the
    * store's own reader then crashes or mis-parses on). */
  private[sink] def requireValidField(k: String): Unit =
    require(k.nonEmpty && !k.exists(ch =>
      ch == '"' || ch == ':' || ch == ',' || ch == '{' || ch == '}' ||
        ch == '\\' || ch.isControl),
      s"invalid field name '$k': field names are written into the doc " +
        "JSON — no quotes, colons, commas, braces, backslashes or " +
        "control characters")
}

class FileDocumentStoreFactory(root: String) extends DocumentStoreFactory {
  import FileDocumentStoreFactory._

  def open(): DocumentStore = new DocumentStore {
    def commitBatch(collection: String,
                    docs: Seq[(String, Map[String, Long])]): Unit =
      write(collection, docs, None)

    override def commitBatchKeyed(key: String, collection: String,
                    docs: Seq[(String, Map[String, Long])]): Unit =
      write(collection, docs, Some(key))

    private def write(collection: String,
                      docs: Seq[(String, Map[String, Long])],
                      idempotencyKey: Option[String]): Unit = {
      requireValidCollection(collection)
      docs.foreach(_._2.keys.foreach(requireValidField))
      val dir = Paths.get(root, collection)
      Files.createDirectories(dir)
      docs.foreach { case (id, fields) =>
        val json = fields.toSeq.sortBy(_._1)
          .map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
        val enc = encodeId(id)
        val tmp = Files.createTempFile(dir, s".$enc", ".tmp")
        Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
        Files.move(tmp, dir.resolve(s"$enc.json"),
          StandardCopyOption.REPLACE_EXISTING,
          StandardCopyOption.ATOMIC_MOVE)
      }
      // publish the batch to the store's change feed AFTER the docs are
      // durable — a feed entry always refers to readable state (the
      // Firestore-watch analogue; see DocStoreChangelog). The key makes
      // the append retry-safe (at most one feed entry per logical batch).
      DocStoreChangelog.append(root, collection, docs, idempotencyKey)
    }
  }

  /** Point read of ONE document by id — a single file probe + parse,
    * no directory listing. The DSv2 reader takes this path when a
    * doc_id equality/IN predicate was pushed down: a point lookup on a
    * 100 TB store must cost O(requested ids), not O(collection).
    * Returns None when the doc does not exist. */
  def readDoc(collection: String, id: String): Option[Map[String, Long]] = {
    val p = Paths.get(root, collection,
      FileDocumentStoreFactory.encodeId(id) + ".json")
    if (!Files.exists(p)) None
    else Some(FileDocumentStoreFactory.parseFields(
      new String(Files.readAllBytes(p), StandardCharsets.UTF_8)))
  }

  /** Existence probe only — the doc_id-pushdown twin of [[readIds]]:
    * no listing AND no body read (`SELECT doc_id WHERE doc_id = 'x'`). */
  def docExists(collection: String, id: String): Boolean =
    Files.exists(Paths.get(root, collection,
      FileDocumentStoreFactory.encodeId(id) + ".json"))

  /** Doc COUNT from raw filenames — no decode, no body reads. The
    * cheapest possible size probe (the DSv2 planner uses it to decide
    * whether intra-collection splitting pays before doing the real
    * listing — review round-16: an unconditional readIds per collection
    * percent-decoded every filename of every small collection on the
    * driver just to discard the result). */
  def docCount(collection: String): Int =
    Option(new File(root, collection).list())
      .map(_.count(n => n.endsWith(".json") && !n.startsWith(".")))
      .getOrElse(0)

  /** Doc ids only, from FILENAMES — no file body is opened or parsed.
    * The DSv2 reader takes this path when the pruned schema needs no
    * field values (review round-16: `SELECT doc_id` previously read and
    * parsed every doc body just to discard the fields — the dominant
    * I/O cost of exactly the scan column pruning claims to avoid). */
  def readIds(collection: String): Seq[String] = {
    val dir = new File(root, collection)
    Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.endsWith(".json") && !f.getName.startsWith("."))
      .map(f => FileDocumentStoreFactory.decodeId(
        f.getName.stripSuffix(".json"))).toSeq
  }

  def readAll(collection: String): Map[String, Map[String, Long]] = {
    val dir = new File(root, collection)
    Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.endsWith(".json") && !f.getName.startsWith("."))
      .map { f =>
        val id = decodeId(f.getName.stripSuffix(".json"))
        val body = new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
        id -> FileDocumentStoreFactory.parseFields(body)
      }.toMap
  }
}
