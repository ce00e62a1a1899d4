package graft.connector

import java.util.UUID
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsMetadataColumns, SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportPartitioning}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.graft.docjson
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, StringStartsWith}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `graft-doc`: a DataSource V2 keyed JSON-document table with
  * upsert-by-`_id` semantics — the engine's re-expression of the
  * reference's keyed document sink (`MapRDBJSONSink.java:96,102-146`,
  * `com.mapr.db.mapreduce.TableOutputFormat`: every record becomes a JSON
  * document whose `_id` is the configured key; re-writing an `_id`
  * replaces the document, which is what upgrades the source's
  * at-least-once delivery to exactly-once table contents).
  *
  * A KV store resolves upsert on write; a file-backed table can't mutate,
  * so this connector uses the standard log-structured design (merge-on-read
  * with base/delta commits — the same shape as public lakehouse formats):
  *
  *  - every write lands as an immutable `commit_<seq>_<uuid>/` directory
  *    of JSON-line part files (task writers → `_staging/`, atomic driver
  *    rename on commit — files never appear partially); the sequence
  *    number is claimed through an atomic create of a `_claim_<seq>`
  *    marker, so CONCURRENT writers (separate drivers) race on the claim
  *    and the loser re-seqs and retries — both commits survive;
  *  - every commit is hash-bucketed on `_id`, the way the reference's
  *    store splits a table into tablets by key: each writer task routes a
  *    row to bucket `pmod(murmur3(_id), B)` (`UTF8String.hashCode`, the
  *    hash `HashPartitioning` uses) and writes one file per non-empty
  *    bucket, named `part-<pid>-<task>-b<bucket>of<B>-<idx>.jsonl` — so a
  *    commit holds up to tasks × B files. B is `spark.sql.shuffle.partitions`
  *    of the session that creates the table, recorded in `_buckets`;
  *    appends reuse it. This is the one layout writers produce: the first
  *    append to a table written before it records B and tags its files,
  *    and the reads below stay correct over the mix until
  *    [[GraftDoc.compact]] makes the table uniform;
  *  - the tombstone flag of a delete commit rides its dir name
  *    (`commit_<seq>t_<uuid>`), marked by the `_format` file; a table with
  *    commits and no `_format` predates the flag (version 1, deletes
  *    recorded only in manifests) and is refused by every read and append,
  *    naming its path, until it is rewritten with overwrite;
  *  - every part file's row count and `_id` min/max land in the commit
  *    manifest, giving the scan file-level skipping for `_id` and
  *    `_commit` predicates (the reference store's point-read-by-key
  *    semantics, `MapRDBJSONSink.java:96,140-146`, re-expressed as
  *    pushdown + pruning); a read pinned to `_id` keys also skips every
  *    file outside their buckets, by file name alone;
  *  - the scan exposes every document version plus a `_commit` column and
  *    a hidden `_bucket` metadata column, and splits large files into
  *    byte-range partitions (newline-aligned, the classic text-split
  *    protocol) so a few big commits still parallelize;
  *  - [[GraftDoc.snapshot]] resolves latest-document-per-`_id` with a
  *    window over `(_bucket, _id)`. When every file it reads carries the
  *    same B, the scan reports key-grouped partitioning on `_bucket` (each
  *    split's bucket is its partition key), so a full read runs one task
  *    per bucket and resolves versions with no exchange. A read whose
  *    pushed filters pin one `_id` reads only that key's bucket, so the
  *    same grouping gives it one task; it also skips other keys' lines
  *    before the JSON parse. A table still mixing untagged and tagged
  *    files, or two B values, reads `_bucket` as one constant and pays one
  *    hash shuffle on `_id`, as does any read with
  *    `spark.sql.sources.v2.bucketing.enabled` off;
  *  - [[GraftDoc.compact]] folds history into a single base commit so
  *    read amplification stays bounded.
  *
  * Streaming writes are idempotent per `(queryId, epochId)`: each query's
  * committed-epoch HIGH WATERMARK lives in `_epochs/<queryId>` and is read
  * in O(1) per commit — not by scanning every manifest (which would be
  * O(#commits) reads per commit, a long-running-stream killer on object
  * stores). The manifest still records (queryId, epochId) as the crash-
  * consistent source of truth: if the watermark file is missing or stale
  * (crash between commit rename and watermark update), the commit path
  * falls back to scanning only the manifests ABOVE the recorded watermark
  * seq — normally zero files. `_epochs/` lives outside the commit dirs,
  * so replay protection survives [[GraftDoc.compact]] folding manifests.
  *
  * `GraftDocLog` reads the log in two places. `GraftDocLog.listRoot` is the
  * one listing of the table root: commit dirs with their seq and
  * tombstone flag, claims with their mtime, schema-delta slots, and which
  * of `_format`, `_buckets` and `_schema.json` exist, a missing root
  * reading as an empty table. Each operation derives its view from one
  * such listing: a snapshot's `tableState` makes one, a plain append two
  * (one before its claim, one after winning it, which also feeds the claim
  * GC), and no marker is stat'ed on its own. `GraftDocLog.LogCodec` is the
  * one JSON codec (Jackson's tree model) and the one reader and writer of
  * manifests and `_epochs/` watermarks. `DocLogLintSpec` keeps both so.
  *
  * All FileSystem access uses the Spark session's Hadoop configuration
  * (driver: `sessionState.newHadoopConf()`; tasks: the same conf shipped
  * inside the serialized reader/writer factories), so `spark.hadoop.*`
  * settings — object-store credentials, endpoints, custom FS impls —
  * apply to the table path exactly as they do to any Spark data source.
  */
class GraftDocDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-doc"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = GraftDocLog.requirePath(options)
    val doc = GraftDocLog.readSchema(path).getOrElse(throw new IllegalArgumentException(
      s"graft-doc: no ${GraftDocLog.SchemaFile} under $path and no user schema " +
        "(pass .schema(...) or write the table first)"))
    // every body column reads nullable whatever the writer declared:
    // tombstone rows carry only `_id`
    val body = StructType(doc.fields.map(f =>
      if (f.name == "_id") f else f.copy(nullable = true)))
    // reads expose the commit sequence alongside the document fields —
    // the recency column GraftDoc.snapshot resolves upserts with
    val withCommit =
      body.add(StructField(GraftDocLog.CommitCol, LongType, nullable = false))
    // opt-in `_op` change-type column (insert|delete): first-class CDC
    // deletes — the flag rides the commit dir name, so it costs the scan
    // nothing (no manifest read, no per-row storage)
    if (options.getBoolean(GraftDocLog.WithOpOpt, false))
      withCommit.add(StructField(GraftDocLog.OpCol, StringType, nullable = false))
    else withCommit
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new GraftDocTable(schema,
      GraftDocLog.requirePath(new CaseInsensitiveStringMap(properties)))
}

class GraftDocTable(docSchema: StructType, path: String)
    extends Table with SupportsRead with SupportsWrite with SupportsMetadataColumns {
  override def name(): String = s"graft-doc:$path"
  override def schema(): StructType = docSchema
  // hidden: only a query that names `_bucket` reads it (the Iceberg
  // `_file`/`_pos` pattern), so `log` and `readStream` schemas keep their
  // columns
  override def metadataColumns(): Array[MetadataColumn] = Array(GraftDocBucketColumn)
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE, TableCapability.TRUNCATE).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftDocScanBuilder(docSchema, path, GraftDocReadConf.from(options))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    GraftDocLog.validateWriteSchema(info.schema())
    new GraftDocWriteBuilder(info, path)
  }
}

/** `_bucket`: the hash bucket of a row's `_id` when the scan is
  * key-grouped by bucket, and one constant (0) for every row otherwise —
  * either way `(_bucket, _id)` groups rows exactly as `_id` does. */
private[connector] object GraftDocBucketColumn extends MetadataColumn {
  override def name(): String = GraftDocLog.BucketCol
  override def dataType(): DataType = IntegerType
  override def isNullable(): Boolean = false
}

// ---------------------------------------------------------------- read side

/** Hadoop Configuration with Java serialization, so task-side readers and
  * writers see the driver session's `spark.hadoop.*` settings (the
  * standard DSv2 pattern; Spark's own SerializableConfiguration is
  * `private[spark]`). */
final class SerializableHadoopConf(@transient var value: Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

/** Read-side options, resolved once at scan-builder construction. */
private[connector] case class GraftDocReadConf(
    splitBytes: Long,
    maxCommitsPerTrigger: Option[Long],
    maxRowsPerTrigger: Option[Long],
    maxFilesPerTrigger: Option[Long],
    claimGraceMs: Long)

private[connector] object GraftDocReadConf {
  def from(options: CaseInsensitiveStringMap): GraftDocReadConf = {
    val grace =
      options.getLong(GraftDocLog.ClaimGraceMsOpt, GraftDocLog.DefaultClaimGraceMs)
    // The fence invariant is code, not convention: readers stepping over
    // claims sooner than 2× the writer fence reopen the skipped-forever
    // window the fence closed (a fenced writer may legitimately rename up
    // to fence ms after claiming). Raising the grace is always safe;
    // lowering it below the invariant is rejected at option-resolution
    // time rather than surfacing as silent data loss under clock skew.
    require(grace >= 2 * GraftDocLog.writerFenceMs,
      s"${GraftDocLog.ClaimGraceMsOpt}=$grace ms is below twice the writer " +
        s"fence (${GraftDocLog.writerFenceMs} ms); a reader could step over " +
        "a live claim whose rename still lands. Raise the option (or lower " +
        "the fence in tests).")
    GraftDocReadConf(
      options.getLong(GraftDocLog.MaxSplitBytesOpt, GraftDocLog.DefaultSplitBytes),
      Option(options.get(GraftDocLog.MaxCommitsPerTriggerOpt)).map(_.toLong),
      Option(options.get(GraftDocLog.MaxRowsPerTriggerOpt)).map(_.toLong),
      Option(options.get(GraftDocLog.MaxFilesPerTriggerOpt)).map(_.toLong),
      grace)
  }

  val default: GraftDocReadConf = GraftDocReadConf(
    GraftDocLog.DefaultSplitBytes, None, None, None,
    GraftDocLog.DefaultClaimGraceMs)
}

class GraftDocScanBuilder(docSchema: StructType, path: String,
    readConf: GraftDocReadConf = GraftDocReadConf.default)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  // table schema already carries _commit when it came from inferSchema;
  // add it if the caller handed a bare document schema
  private val fullSchema =
    if (docSchema.fieldNames.contains(GraftDocLog.CommitCol)) docSchema
    else docSchema.add(StructField(GraftDocLog.CommitCol, LongType, nullable = false))
  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** `_id` and `_commit` predicates prune whole files (manifest min/max
    * for `_id`, the partition's own sequence for `_commit`). All filters
    * are returned as residual — Spark re-evaluates them post-scan (the
    * Parquet contract), so pruning is a pure optimization that can never
    * change results. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(GraftDocFilters.supported)
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new GraftDocScan(required, path, pushed,
      new SerializableHadoopConf(GraftDocLog.hadoopConf()), readConf,
      keyGrouping = SQLConf.get.v2BucketingEnabled)
}

/** Conjunctive file- and line-level pruning over the pushed filter set. */
private[graft] object GraftDocFilters {
  private val Id = "_id"

  // range predicates on ANY single column are accepted: `_id`/`_commit`
  // prune against their dedicated stats, and a payload column prunes
  // against the manifest's declared-column min/max when the writer
  // recorded them (files without stats for the column always pass —
  // all filters are returned residual, so acceptance is never wrong)
  def supported(f: Filter): Boolean = f match {
    case EqualTo(_, _) => true
    case In(_, _) => true
    case GreaterThan(_, _) => true
    case GreaterThanOrEqual(_, _) => true
    case LessThan(_, _) => true
    case LessThanOrEqual(_, _) => true
    case StringStartsWith(c, _) => c == Id // key-prefix scan (reference store range read)
    case _ => false
  }

  /** The `_id` values the conjunction of `_id` `EqualTo`/`In` filters
    * admits, or None when no such filter constrains `_id`. An `In` with a
    * non-string literal does not constrain (conservative); null literals
    * never match and drop out. */
  def wantedIds(filters: Array[Filter]): Option[Set[String]] =
    filters.foldLeft(Option.empty[Set[String]]) { (acc, f) =>
      val keys = f match {
        case EqualTo(Id, v: String) => Some(Set(v))
        case In(Id, vs) if vs.forall(v => v == null || v.isInstanceOf[String]) =>
          Some(vs.collect { case s: String => s }.toSet)
        case _ => None
      }
      (acc, keys) match {
        case (Some(a), Some(k)) => Some(a.intersect(k))
        case (a, None) => a
        case (None, k) => k
      }
    }

  /** The wanted keys as UTF-8 for [[otherKey]], or None when lines
    * cannot be skipped. A wanted key holding U+FFFD disables the skip: a
    * malformed byte run decodes to that character, so a byte mismatch
    * would no longer prove a key mismatch. */
  def lineSkipKeys(filters: Array[Filter]): Option[Set[UTF8String]] =
    wantedIds(filters).filterNot(_.exists(_.contains('\uFFFD')))
      .map(_.map(UTF8String.fromString))

  private val IdPrefix = "{\"_id\":\"".getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** True when `line(0 until n)` provably holds a document whose `_id` is
    * none of `wanted`: it starts with `{"_id":"` (the writer emits `_id`
    * first, once, with no whitespace) and the value up to its closing
    * quote carries no backslash, so its raw bytes are the key's UTF-8 and
    * differ from every wanted key's. Any other shape — a backslash, a
    * different leading key, an empty or unterminated line — is left to
    * the JSON parser. */
  def otherKey(line: Array[Byte], n: Int, wanted: Set[UTF8String]): Boolean = {
    val p = IdPrefix.length
    if (n <= p || !java.util.Arrays.equals(line, 0, p, IdPrefix, 0, p)) return false
    var end = p
    while (end < n && line(end) != '"') {
      if (line(end) == '\\') return false
      end += 1
    }
    // a view over the value's bytes: hashed and compared, never copied
    end < n && !wanted.contains(UTF8String.fromBytes(line, p, end - p))
  }

  private def asLong(v: Any): Option[Long] = v match {
    case n: Number => Some(n.longValue())
    case _ => None
  }

  /** Binary (UTF-8 byte) string order — the order Spark's own string
    * comparisons use, and the order the writer computes min/max in. */
  private def cmp(a: String, b: String): Int =
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

  def commitOk(filters: Array[Filter], seq: Long): Boolean = filters.forall {
    case EqualTo(GraftDocLog.CommitCol, v) => asLong(v).forall(_ == seq)
    case In(GraftDocLog.CommitCol, vs) => vs.exists(v => asLong(v).forall(_ == seq))
    case GreaterThan(GraftDocLog.CommitCol, v) => asLong(v).forall(seq > _)
    case GreaterThanOrEqual(GraftDocLog.CommitCol, v) => asLong(v).forall(seq >= _)
    case LessThan(GraftDocLog.CommitCol, v) => asLong(v).forall(seq < _)
    case LessThanOrEqual(GraftDocLog.CommitCol, v) => asLong(v).forall(seq <= _)
    case _ => true
  }

  /** File passes when every `_id` predicate can hold somewhere inside the
    * file's [minId, maxId] range; files with no recorded stats always
    * pass. */
  def idOk(filters: Array[Filter], minId: Option[String],
      maxId: Option[String]): Boolean = (minId, maxId) match {
    case (Some(mn), Some(mx)) => filters.forall {
      case EqualTo(Id, v: String) => cmp(v, mn) >= 0 && cmp(v, mx) <= 0
      case In(Id, vs) => vs.exists {
        case v: String => cmp(v, mn) >= 0 && cmp(v, mx) <= 0
        case _ => true
      }
      case GreaterThan(Id, v: String) => cmp(mx, v) > 0
      case GreaterThanOrEqual(Id, v: String) => cmp(mx, v) >= 0
      case LessThan(Id, v: String) => cmp(mn, v) < 0
      case LessThanOrEqual(Id, v: String) => cmp(mn, v) <= 0
      // ids with prefix p form [p, succ(p)) in binary order: a file
      // overlaps iff mx >= p and mn is below that interval's end —
      // i.e. mn < p or mn itself carries the prefix
      case StringStartsWith(Id, p: String) =>
        cmp(mx, p) >= 0 && (cmp(mn, p) <= 0 ||
          UTF8String.fromString(mn).startsWith(UTF8String.fromString(p)))
      case _ => true
    }
    case _ => true
  }

  /** File passes when every payload-column predicate can hold somewhere
    * inside the column's recorded [min, max]. Columns without recorded
    * stats — older manifests, undeclared columns, all-null files — and
    * literals whose type doesn't match the recorded domain always pass:
    * pruning is advisory, the residual filter re-evaluates post-scan. */
  def colsOk(filters: Array[Filter], colStats: Seq[GraftDocColStat]): Boolean = {
    if (colStats.isEmpty) return true
    val byCol = colStats.iterator.map(c => c.col -> c).toMap
    // value inside the recorded range? None = type mismatch → no verdict
    def inRange(st: GraftDocColStat, v: Any): Option[Boolean] = (st.t, v) match {
      case ("s", s: String) =>
        Some(cmp(s, st.min) >= 0 && cmp(s, st.max) <= 0)
      case ("l", n: Number) =>
        Some(n.longValue() >= st.min.toLong && n.longValue() <= st.max.toLong)
      case _ => None
    }
    def above(st: GraftDocColStat, v: Any, strict: Boolean): Option[Boolean] =
      (st.t, v) match { // can some value in the file sit above v?
        case ("s", s: String) =>
          Some(if (strict) cmp(st.max, s) > 0 else cmp(st.max, s) >= 0)
        case ("l", n: Number) =>
          Some(if (strict) st.max.toLong > n.longValue()
          else st.max.toLong >= n.longValue())
        case _ => None
      }
    def below(st: GraftDocColStat, v: Any, strict: Boolean): Option[Boolean] =
      (st.t, v) match { // can some value in the file sit below v?
        case ("s", s: String) =>
          Some(if (strict) cmp(st.min, s) < 0 else cmp(st.min, s) <= 0)
        case ("l", n: Number) =>
          Some(if (strict) st.min.toLong < n.longValue()
          else st.min.toLong <= n.longValue())
        case _ => None
      }
    filters.forall {
      case EqualTo(c, v) if c != Id && c != GraftDocLog.CommitCol =>
        byCol.get(c).flatMap(inRange(_, v)).getOrElse(true)
      case In(c, vs) if c != Id && c != GraftDocLog.CommitCol =>
        byCol.get(c).map(st =>
          vs.exists(v => inRange(st, v).getOrElse(true))).getOrElse(true)
      case GreaterThan(c, v) if c != Id && c != GraftDocLog.CommitCol =>
        byCol.get(c).flatMap(above(_, v, strict = true)).getOrElse(true)
      case GreaterThanOrEqual(c, v) if c != Id && c != GraftDocLog.CommitCol =>
        byCol.get(c).flatMap(above(_, v, strict = false)).getOrElse(true)
      case LessThan(c, v) if c != Id && c != GraftDocLog.CommitCol =>
        byCol.get(c).flatMap(below(_, v, strict = true)).getOrElse(true)
      case LessThanOrEqual(c, v) if c != Id && c != GraftDocLog.CommitCol =>
        byCol.get(c).flatMap(below(_, v, strict = false)).getOrElse(true)
      case _ => true
    }
  }
}

class GraftDocScan(required: StructType, path: String, pushed: Array[Filter],
    conf: SerializableHadoopConf,
    readConf: GraftDocReadConf = GraftDocReadConf.default,
    keyGrouping: Boolean = true) extends Scan with Batch
    with SupportsReportPartitioning {
  private val splitBytes = readConf.splitBytes
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-doc $path, PushedFilters: [${pushed.mkString(", ")}]"

  private val wanted = GraftDocFilters.wantedIds(pushed).map(_.map(UTF8String.fromString))

  /** A bucketed file passes when one of the pinned keys hashes into it. */
  private def bucketOk(fi: GraftDocLog.CommitFileInfo): Boolean =
    fi.buckets == 0 ||
      wanted.forall(_.exists(GraftDocLog.bucketOf(_, fi.buckets) == fi.bucket))

  private def admitted(fis: Seq[GraftDocLog.CommitFileInfo]): Seq[GraftDocLog.CommitFileInfo] =
    fis.filter(fi => GraftDocFilters.commitOk(pushed, fi.seq) &&
      GraftDocFilters.idOk(pushed, fi.minId, fi.maxId) &&
      GraftDocFilters.colsOk(pushed, fi.colStats) && bucketOk(fi))

  /** Byte-range splits of `fis`; `_bucket` reads the file's bucket when
    * `keyed`, else 0. */
  private def splitsOf(fis: Seq[GraftDocLog.CommitFileInfo],
      keyed: Boolean): Array[GraftDocInputPartition] =
    fis.flatMap { fi =>
      val n = math.max(1L, (fi.bytes + splitBytes - 1) / splitBytes)
      (0L until n).map { i =>
        GraftDocInputPartition(fi.path, fi.seq, i * splitBytes,
          math.min(splitBytes, fi.bytes - i * splitBytes),
          fi.tombstone, if (keyed) fi.bucket else 0)
      }
    }.toArray

  // `_id` and payload-column min/max stats live in commit manifests;
  // reading them is only worth a driver FS round-trip per commit when a
  // predicate that could prune against them was actually pushed
  // (`_commit` prunes from the dir name alone, buckets from the file
  // name). Everything else — snapshot planning, CDC batches, full scans —
  // plans from the root and commit-dir listings alone (ZERO manifest
  // reads).
  private val needsIdStats = pushed.exists(
    _.references.exists(_ != GraftDocLog.CommitCol))

  /** The files this batch scan reads, listed once: the partitioning report
    * and the partition plan must describe the same files. `_commit` skips
    * whole commits (the seq rides the dir name, so pruned commits' files
    * are never even listed); `_id` prunes by bucket and by manifest
    * min/max (read only when an `_id` predicate is pushed). */
  private lazy val files = admitted(GraftDocLog.listCommitFileInfosInRange(path, 0L,
    Long.MaxValue, withStats = needsIdStats,
    seqOk = seq => GraftDocFilters.commitOk(pushed, seq)))

  /** Key-grouped by bucket: every admitted file carries the same B and the
    * query reads `_bucket` (the snapshot window partitions on it). Each
    * bucket then holds every version of its keys, so Spark runs one task
    * per bucket and the window needs no exchange; a read pinned to one
    * `_id` has its files pruned to that key's bucket and so runs one task.
    * A mixed table never qualifies, so no key's versions are split across
    * two groups. */
  private lazy val bucketed: Boolean =
    keyGrouping && required.fieldNames.contains(GraftDocLog.BucketCol) &&
      files.nonEmpty && files.forall(_.buckets > 0) &&
      files.map(_.buckets).distinct.size == 1

  private lazy val splits = splitsOf(files, bucketed)

  override def outputPartitioning(): Partitioning =
    if (bucketed)
      new KeyGroupedPartitioning(Array(Expressions.identity(GraftDocLog.BucketCol)),
        files.map(_.bucket).distinct.size)
    else new UnknownPartitioning(0)

  /** The admitted files in byte-range splits, so a few large commit files
    * still spread across the cluster; each split's bucket is its key when
    * the scan reports the grouping. */
  override def planInputPartitions(): Array[InputPartition] =
    splits.toArray[InputPartition]

  /** Micro-batch slice: the files of commits in (start, end] — listed by
    * range, so a tailing reader's per-batch planning cost tracks the
    * slice, not the table's full history. Never key-grouped. A commit
    * holds up to B files per writer task; the files one writer task wrote
    * to one commit are read by one task while they fit in one split, so a
    * CDC batch runs no more tasks than before the bucket layout. */
  private[connector] def streamPartitions(startSeq: Long, endSeq: Long): Array[InputPartition] =
    admitted(GraftDocLog.listCommitFileInfosInRange(path, startSeq, endSeq,
      withStats = needsIdStats))
      .groupBy(fi => (fi.seq, GraftDocLog.writerOf(fi.path))).toSeq.sortBy(_._1)
      .flatMap { case (_, fis) =>
        val splits = splitsOf(fis.sortBy(_.path), keyed = false)
        if (splits.length > 1 && fis.map(_.bytes).sum <= splitBytes)
          Seq(GraftDocPackedPartition(splits.toSeq))
        else splits.toSeq
      }.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftDocReaderFactory(required.json, conf, GraftDocFilters.lineSkipKeys(pushed))

  /** Streaming read of the commit log — the table's CDC feed (every
    * document version, in commit order), the source role of the
    * reference pair closed over our own sink's log. Offsets are commit
    * sequence numbers: exactly-once, replayable, totally ordered. A
    * micro-batch reads the commits in (start, end]; `maxCommitsPerTrigger`
    * caps admission per batch. Caveats of tailing a log-structured store:
    * don't `compact` or truncate a table while a reader tails it — the
    * fold lands as a regular commit (readers see absorbed versions
    * re-emitted, consistent for upsert consumers but redundant), and
    * truncation restarts the seq line a checkpointed reader has already
    * passed. Additive schema evolution UNDER a running reader is safe:
    * Structured Streaming fixes the query's schema at start (a Spark
    * architecture invariant), so the running drain keeps its old
    * projection — post-evolution documents still flow (the JSON parser
    * skips the keys the old schema lacks; nothing stalls or errors) and
    * the new column becomes visible on the next (re)start, which infers
    * the union schema from the log and reads null for pre-evolution
    * documents (spec: "CDC drain across an additive evolution"). */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftDocMicroBatchStream(this, path, readConf)
}

case class GraftDocOffset(seq: Long) extends Offset {
  override def json(): String = seq.toString
}

class GraftDocMicroBatchStream(scan: GraftDocScan, path: String,
    readConf: GraftDocReadConf)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, ReadAllAvailable, ReadMaxFiles, ReadMaxRows}

  // AvailableNow contract: pin the target at query start so the drain
  // terminates even while writers keep committing.
  // Offsets never advance past an in-flight claim (a concurrent writer
  // whose commit rename hasn't landed yet): once a checkpoint records an
  // offset above a pending seq, that commit would be skipped forever.
  // Claims older than the grace window (`claimGraceMs` stream option,
  // default 5 min) are crashed writers — their seq can never fill (the
  // claim file blocks reuse) — and are stepped over. The window is the
  // stream's tolerance for writer stalls AND cross-machine clock skew
  // (the comparison is store mtime vs this reader's clock); writers fence
  // their own renames at half this window (`GraftDocLog.finalizeCommit`),
  // so a rename can only land on a seq readers still hold for.
  private val maxCommitsPerTrigger = readConf.maxCommitsPerTrigger
  @volatile private var availableNowTarget: Option[Long] = None
  private def latestSeq: Long = GraftDocLog.safeLatestSeq(path, readConf.claimGraceMs)

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(latestSeq)

  /** Row/file budgets from the standard trigger options, expressed through
    * Spark's own ReadLimit plumbing so `latestOffset` composes with any
    * limit a trigger passes. */
  override def getDefaultReadLimit: ReadLimit = {
    val limits = Seq(
      readConf.maxRowsPerTrigger.map(n => ReadLimit.maxRows(n)),
      readConf.maxFilesPerTrigger.map(n => ReadLimit.maxFiles(n.toInt))).flatten
    limits match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  override def initialOffset(): Offset = GraftDocOffset(0L)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is the admission-control entry point")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[GraftDocOffset].seq
    val cap = availableNowTarget.getOrElse(latestSeq)
    val optCap = maxCommitsPerTrigger.map(m => math.min(cap, s + m)).getOrElse(cap)
    GraftDocOffset(math.max(s, limitedEnd(limit, s, optCap)))
  }

  /** Resolve a ReadLimit to an end seq in (s, cap]. Row/file budgets walk
    * the slice's manifests (range-priced listing — O(slice), not O(log))
    * and always admit at least one commit so the stream can't stall.
    * ReadMinRows has no holding semantics here (a log source can't wait
    * for data that isn't committed); it reads as allAvailable. */
  private def limitedEnd(limit: ReadLimit, s: Long, cap: Long): Long = limit match {
    case c: CompositeReadLimit => c.getReadLimits.map(l => limitedEnd(l, s, cap)).min
    case r: ReadMaxRows => admit(s, cap, r.maxRows(), Long.MaxValue)
    case f: ReadMaxFiles => admit(s, cap, Long.MaxValue, f.maxFiles().toLong)
    case _: ReadAllAvailable => cap
    case _ => cap
  }

  private def admit(s: Long, cap: Long, rowBudget: Long, fileBudget: Long): Long = {
    if (cap <= s) return cap
    // lazy walk, one commit at a time: returning early stops the iterator,
    // so a reader 10k commits behind pays listing/manifest I/O only for
    // the commits it ADMITS, not the whole backlog — and a file-only
    // budget skips manifests entirely (rows price from manifests; file
    // counts price from the dir listing alone)
    val slices = GraftDocLog.commitFileSlices(path, s, cap,
      withStats = rowBudget != Long.MaxValue)
    var rows = 0L
    var files = 0L
    var end = s
    var any = false
    for ((seq, fis) <- slices) {
      any = true
      val r = rows + fis.map(_.rows).sum
      val f = files + fis.length
      if (end > s && (r > rowBudget || f > fileBudget)) return end
      rows = r; files = f; end = seq
      if (rows >= rowBudget || files >= fileBudget) return end
    }
    // an empty slice (all commits in range pruned/absent) still advances
    if (!any) cap else end
  }

  override def reportLatestOffset(): Offset = GraftDocOffset(latestSeq)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftDocOffset].seq
    val e = end.asInstanceOf[GraftDocOffset].seq
    scan.streamPartitions(s, e)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    scan.createReaderFactory()

  override def deserializeOffset(json: String): Offset =
    GraftDocOffset(json.trim.toLong)

  override def commit(end: Offset): Unit = () // nothing to release source-side
  override def stop(): Unit = ()
}

/** `bucket`: the value the split's rows read for `_bucket`, and the key
  * Spark groups the splits of a key-grouped scan by (it reads the key only
  * when the scan reports [[KeyGroupedPartitioning]]). */
case class GraftDocInputPartition(file: String, commitSeq: Long,
    start: Long, length: Long, tombstone: Boolean = false, bucket: Int = 0)
    extends HasPartitionKey {
  override def partitionKey(): InternalRow = InternalRow(bucket)
}

/** Splits one task reads one after another. */
case class GraftDocPackedPartition(splits: Seq[GraftDocInputPartition])
    extends InputPartition

/** `skipKeys`: the `_id`s the pushed filters admit
  * ([[GraftDocFilters.lineSkipKeys]]); a line that provably holds another
  * key is dropped before the JSON parse. The filters stay residual. */
class GraftDocReaderFactory(requiredSchemaJson: String,
    conf: SerializableHadoopConf,
    skipKeys: Option[Set[UTF8String]]) extends PartitionReaderFactory {
  private val CommitOrd = -1
  private val OpOrd = -2
  private val BucketOrd = -3

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case s: GraftDocInputPartition => reader(s)
      case GraftDocPackedPartition(splits) => new PartitionReader[InternalRow] {
        private val rest = splits.iterator
        private var cur: PartitionReader[InternalRow] = _
        override def next(): Boolean = {
          while (cur == null || !cur.next()) {
            if (cur != null) cur.close()
            cur = null
            if (!rest.hasNext) return false
            cur = reader(rest.next())
          }
          true
        }
        override def get(): InternalRow = cur.get()
        override def close(): Unit = if (cur != null) cur.close()
      }
    }

  private def reader(p: GraftDocInputPartition): PartitionReader[InternalRow] = {
    val required = GraftDocLog.schemaFromJson(requiredSchemaJson)
    // parse only the document fields Spark asked for (JSON column pruning:
    // the parser skips every other key), then place them — plus the
    // metadata columns _commit / _op / _bucket — in Spark's required order.
    val meta = Map(GraftDocLog.CommitCol -> CommitOrd, GraftDocLog.OpCol -> OpOrd,
      GraftDocLog.BucketCol -> BucketOrd)
    val docPart = StructType(required.filterNot(f => meta.contains(f.name)))
    val docIndex = docPart.fieldNames.zipWithIndex.toMap
    val outPlan: Array[Int] = // >=0: doc field index; <0: metadata column
      required.fields.map(f => meta.getOrElse(f.name, docIndex(f.name)))
    // the change type is a per-PARTITION constant (the tombstone flag is
    // encoded in the commit dir name) — zero per-row cost
    val opVal = UTF8String.fromString(if (p.tombstone) "delete" else "insert")

    new PartitionReader[InternalRow] {
      private val fs = new Path(p.file).getFileSystem(conf.value)
      private val lines = new RangeLineReader(
        fs.open(new Path(p.file)), p.start, p.length)
      private val parser = new docjson.RowJsonReader(docPart)
      private var pending: Iterator[InternalRow] = Iterator.empty
      private var current: InternalRow = _

      override def next(): Boolean = {
        while (!pending.hasNext) {
          val n = lines.nextLine()
          if (n < 0) return false
          if (n > 0 && !skipKeys.exists(GraftDocFilters.otherKey(lines.bytes, n, _)))
            pending = parser.fromJson(
              new String(lines.bytes, 0, n, java.nio.charset.StandardCharsets.UTF_8))
        }
        val doc = pending.next()
        val out = new GenericInternalRow(outPlan.length)
        var i = 0
        while (i < outPlan.length) {
          out.update(i,
            if (outPlan(i) == CommitOrd) p.commitSeq
            else if (outPlan(i) == OpOrd) opVal
            else if (outPlan(i) == BucketOrd) p.bucket
            else if (doc.isNullAt(outPlan(i))) null
            else doc.get(outPlan(i), docPart.fields(outPlan(i)).dataType))
          i += 1
        }
        current = out
        true
      }

      override def get(): InternalRow = current
      override def close(): Unit = lines.close()
    }
  }
}

/** Newline-aligned byte-range reader (the classic text-split protocol): a
  * split owns every line whose first byte lies in [start, start+length);
  * it reads past its end to finish the final straddling line, and a
  * non-leading split seeks to start−1 and discards through the first
  * newline — together the two rules parse every line exactly once across
  * splits. Scans a 64 KiB buffer for newlines directly (no per-byte
  * stream calls — this sits on the q77/q87 hot read path). */
private[graft] final class RangeLineReader(
    in: org.apache.hadoop.fs.FSDataInputStream, start: Long, length: Long) {
  private val end = start + length
  private var pos = if (start == 0) 0L else start - 1
  in.seek(pos)
  private val buf = new Array[Byte](64 * 1024)
  private var bufLen = 0
  private var bufPos = 0
  private var line = new Array[Byte](256)
  if (start > 0) consumeLine() // remainder of the previous split's line

  private def fill(): Boolean = {
    bufLen = in.read(buf)
    bufPos = 0
    bufLen > 0
  }

  /** Consume one line through its newline; returns the line's byte
    * length, or -1 at EOF with no bytes. */
  private def consumeLine(): Int = {
    var n = 0
    var done = false
    var sawAny = false
    while (!done) {
      if (bufPos >= bufLen && !fill()) {
        if (!sawAny) return -1
        done = true
      } else {
        sawAny = true
        var i = bufPos
        while (i < bufLen && buf(i) != '\n') i += 1
        val chunk = i - bufPos
        if (n + chunk > line.length) {
          val grown = new Array[Byte](math.max(line.length * 2, n + chunk))
          System.arraycopy(line, 0, grown, 0, n)
          line = grown
        }
        System.arraycopy(buf, bufPos, line, n, chunk)
        n += chunk
        pos += chunk
        bufPos = i
        if (i < bufLen) { // hit the newline
          bufPos += 1
          pos += 1
          done = true
        }
      }
    }
    n
  }

  /** Advance to the next owned line and return its byte length (its
    * bytes are `bytes(0 until n)`, valid until the next call), or -1 when
    * the split is exhausted. */
  def nextLine(): Int =
    if (pos >= end) -1 // next line would start past our range
    else consumeLine()

  /** The current line's buffer (see [[nextLine]]). */
  def bytes: Array[Byte] = line

  def close(): Unit = in.close()
}

// --------------------------------------------------------------- write side

class GraftDocWriteBuilder(info: LogicalWriteInfo, path: String)
    extends WriteBuilder with SupportsTruncate {
  private var truncateFirst = false
  override def truncate(): WriteBuilder = { truncateFirst = true; this }

  override def build(): Write = new Write {
    private val targetFileRows =
      Option(info.options.get(GraftDocLog.TargetFileRowsOpt)).map(_.toLong)
    private val commitTag = Option(info.options.get(GraftDocLog.CommitTagOpt))
    private val tombstone =
      Option(info.options.get(GraftDocLog.TombstoneOpt)).exists(_.toBoolean)
    private val statsColumns =
      Option(info.options.get(GraftDocLog.StatsColumnsOpt))
        .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
        .getOrElse(Nil)

    private def factory(stagingDir: String, buckets: Int) =
      new GraftDocWriterFactory(stagingDir, info.schema().json, targetFileRows,
        new SerializableHadoopConf(GraftDocLog.hadoopConf()), statsColumns, buckets)

    override def toBatch: BatchWrite = new BatchWrite {
      private val writeId = UUID.randomUUID().toString
      private var buckets = 0

      override def createBatchWriterFactory(pInfo: PhysicalWriteInfo): DataWriterFactory = {
        buckets = GraftDocLog.writeBuckets(path, truncateFirst)
        factory(GraftDocLog.stagingDir(path, writeId), buckets)
      }

      override def commit(messages: Array[WriterCommitMessage]): Unit =
        GraftDocLog.finalizeCommit(path, GraftDocLog.stagingDir(path, writeId),
          info.schema(), info.queryId(), epochId = -1L, truncateFirst,
          GraftDocLog.statsOf(messages), commitTag, tombstone, buckets)

      override def abort(messages: Array[WriterCommitMessage]): Unit =
        GraftDocLog.deleteDir(GraftDocLog.stagingDir(path, writeId))
    }

    override def toStreaming: StreamingWrite = new StreamingWrite {
      private val writeId = UUID.randomUUID().toString
      private def epochDir(epochId: Long) =
        s"${GraftDocLog.stagingDir(path, writeId)}/epoch_$epochId"

      // re-read per micro-batch, so a running stream adopts the B the
      // table records once another writer truncated it
      @volatile private var buckets = 0

      override def createStreamingWriterFactory(pInfo: PhysicalWriteInfo): StreamingDataWriterFactory = {
        buckets = GraftDocLog.writeBuckets(path, truncate = false)
        factory(GraftDocLog.stagingDir(path, writeId), buckets)
      }

      private val autoCompactCommits =
        Option(info.options.get(GraftDocLog.AutoCompactCommitsOpt)).map(_.toInt)

      // Idempotent per (queryId, epochId): a replayed micro-batch is
      // detected against the query's epoch high-watermark (O(1) read) and
      // dropped — exactly-once contents over an at-least-once source.
      override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
        GraftDocLog.finalizeCommit(path, epochDir(epochId), info.schema(),
          info.queryId(), epochId, truncateFirst = false,
          GraftDocLog.statsOf(messages), commitTag, tombstone, buckets)
        // inline maintenance: a long-running one-commit-per-epoch stream
        // is exactly the writer that otherwise grows the log without
        // bound (round-3 verdict). Compacting from the stream's own
        // commit thread IS the "single writer runs the compactor"
        // operating model; GraftDoc.maintain is the single place the
        // threshold policy lives (one root listStatus, then compact).
        autoCompactCommits.foreach { n =>
          org.apache.spark.sql.SparkSession.getActiveSession
            .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
            .foreach(s => GraftDoc.maintain(s, path, n))
        }
      }

      override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
        GraftDocLog.deleteDir(epochDir(epochId))
    }
  }
}

/** Task writers for batch writes (staged under `stagingDir`) and for
  * streaming epochs (under `stagingDir/epoch_<id>`). */
class GraftDocWriterFactory(stagingDir: String, schemaJson: String,
    targetFileRows: Option[Long], conf: SerializableHadoopConf,
    statsColumns: Seq[String], buckets: Int)
    extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftDocDataWriter(stagingDir, partitionId, taskId, schemaJson,
      targetFileRows, conf, statsColumns, buckets)

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new GraftDocDataWriter(s"$stagingDir/epoch_$epochId", partitionId, taskId,
      schemaJson, targetFileRows, conf, statsColumns, buckets)
}

/** Per-column min/max recorded in the commit manifest for a DECLARED
  * payload column (`statsColumns` write option) — the Delta/Iceberg-class
  * file-skip index for predicates on payload columns, not just `_id`.
  * `t` is the comparison domain: "s" = UTF-8 binary string order (the
  * order Spark's own string comparisons use), "l" = signed long. Values
  * are serialized as strings either way (one manifest grammar). */
case class GraftDocColStat(col: String, t: String, min: String, max: String)

/** Per-part-file stats recorded in the commit manifest; the scan's
  * file-skip index for `_id` point reads and range scans (and, when the
  * writer declared `statsColumns`, payload-column predicates). */
case class GraftDocFileStat(name: String, rows: Long,
    minId: Option[String], maxId: Option[String],
    cols: Seq[GraftDocColStat] = Nil)

/** Task-side writer: serializes rows to JSON lines in one part file per
  * `_id` bucket, rolling
  * a bucket to a new file every `targetFileRows` rows (small-files /
  * large-files control with zero shuffle — file boundaries are
  * task-local), and tracking each file's row count and `_id` min/max for
  * the manifest. */
class GraftDocDataWriter(stagingDir: String, partitionId: Int, taskId: Long,
    schemaJson: String, targetFileRows: Option[Long],
    conf: SerializableHadoopConf,
    statsColumns: Seq[String], buckets: Int) extends DataWriter[InternalRow] {

  private val schema = GraftDocLog.schemaFromJson(schemaJson)
  private val json = new docjson.RowJsonWriter(schema)
  private val fs = new Path(stagingDir).getFileSystem(conf.value)
  // _id is the leading string column for document writes (W3 validation);
  // tolerate arbitrary schemas (no stats) so the writer stays general
  private val idOrdinal =
    if (schema.fields.headOption.exists(f =>
      f.name == "_id" && f.dataType == StringType)) 0 else -1
  // declared payload stats columns resolved to (name, ordinal, domain):
  // strings track in UTF-8 binary order, int/long in signed-long order;
  // other types (and names absent from the schema) are silently skipped
  // — stats are a pure pruning aid, never a correctness surface
  private val statCols: Array[(String, Int, Boolean)] =
    statsColumns.flatMap { name =>
      val i = schema.fieldNames.indexOf(name)
      if (i < 0) None
      else schema.fields(i).dataType match {
        case StringType => Some((name, i, true))
        case LongType | org.apache.spark.sql.types.IntegerType =>
          Some((name, i, false))
        case _ => None
      }
    }.toArray
  private val stats = ArrayBuffer.empty[GraftDocFileStat]
  private val written = ArrayBuffer.empty[Path]
  private val parts = new Array[Part](buckets)

  /** The open part file of one bucket and its manifest stats. */
  private final class Part(bucket: Int) {
    var out: java.io.BufferedWriter = _
    private var file: Path = _
    private var idx = 0
    var rows = 0L
    var minId: UTF8String = _
    var maxId: UTF8String = _
    val colMinS = new Array[UTF8String](statCols.length)
    val colMaxS = new Array[UTF8String](statCols.length)
    val colMinL = new Array[Long](statCols.length)
    val colMaxL = new Array[Long](statCols.length)
    val colSeen = new Array[Boolean](statCols.length)

    def seal(): Unit = {
      if (out != null) {
        out.close()
        val cols = statCols.indices.collect {
          case k if colSeen(k) =>
            val (name, _, isStr) = statCols(k)
            if (isStr)
              GraftDocColStat(name, "s", colMinS(k).toString, colMaxS(k).toString)
            else
              GraftDocColStat(name, "l", colMinL(k).toString, colMaxL(k).toString)
        }.toSeq
        stats += GraftDocFileStat(file.getName, rows,
          Option(minId).map(_.toString), Option(maxId).map(_.toString), cols)
      }
      out = null
      rows = 0L
      minId = null
      maxId = null
      java.util.Arrays.fill(colSeen, false)
      java.util.Arrays.fill(colMinS.asInstanceOf[Array[AnyRef]], null)
      java.util.Arrays.fill(colMaxS.asInstanceOf[Array[AnyRef]], null)
    }

    def roll(): Unit = {
      seal()
      file = new Path(stagingDir,
        f"part-$partitionId%05d-$taskId-b${bucket}of$buckets-$idx%04d.jsonl")
      written += file
      out = new java.io.BufferedWriter(
        new java.io.OutputStreamWriter(fs.create(file, true), "UTF-8"))
      idx += 1
    }
  }

  override def write(row: InternalRow): Unit = {
    val id =
      if (idOrdinal >= 0 && !row.isNullAt(idOrdinal)) row.getUTF8String(idOrdinal)
      else null
    val b = GraftDocLog.bucketOf(id, buckets)
    if (parts(b) == null) parts(b) = new Part(b)
    val p = parts(b)
    if (p.out == null || targetFileRows.exists(p.rows >= _)) p.roll()
    // clone a kept bound: the UTF8String points into a buffer the row reuses
    if (id != null) {
      if (p.minId == null || id.compareTo(p.minId) < 0) p.minId = id.clone()
      if (p.maxId == null || id.compareTo(p.maxId) > 0) p.maxId = id.clone()
    }
    var k = 0
    while (k < statCols.length) {
      val (_, ord, isStr) = statCols(k)
      if (!row.isNullAt(ord)) {
        if (isStr) {
          val v = row.getUTF8String(ord).clone()
          if (!p.colSeen(k) || v.compareTo(p.colMinS(k)) < 0) p.colMinS(k) = v
          if (!p.colSeen(k) || v.compareTo(p.colMaxS(k)) > 0) p.colMaxS(k) = v
        } else {
          val v = schema.fields(ord).dataType match {
            case LongType => row.getLong(ord)
            case _ => row.getInt(ord).toLong
          }
          if (!p.colSeen(k) || v < p.colMinL(k)) p.colMinL(k) = v
          if (!p.colSeen(k) || v > p.colMaxL(k)) p.colMaxL(k) = v
        }
        p.colSeen(k) = true
      }
      k += 1
    }
    p.out.write(json.toJson(row))
    p.out.write('\n')
    p.rows += 1
  }

  override def commit(): WriterCommitMessage = {
    parts.foreach(p => if (p != null) p.seal())
    json.close()
    GraftDocCommitMessage(stats.toSeq)
  }

  override def abort(): Unit = {
    parts.foreach(p => if (p != null && p.out != null) p.out.close())
    written.foreach(fs.delete(_, false))
  }

  override def close(): Unit = ()
}

case class GraftDocCommitMessage(files: Seq[GraftDocFileStat])
    extends WriterCommitMessage

// ------------------------------------------------------------- log protocol

/** Driver-side commit-log operations for graft-doc tables. */
object GraftDocLog {
  /** Public-API replacement for the `private[sql]` `StructType.fromString`. */
  def schemaFromJson(json: String): StructType =
    org.apache.spark.sql.types.DataType.fromJson(json).asInstanceOf[StructType]

  val CommitCol = "_commit"
  val OpCol = "_op"
  /** Hidden metadata column: see [[GraftDocBucketColumn]]. */
  val BucketCol = "_bucket"
  /** The table's bucket count B, one decimal line, written by the commit
    * that creates or truncates the table and by any commit that finds it
    * missing (the first append to a table written before the bucket
    * layout). Writers read it; readers never do — each part file's name
    * states its own bucket and B. */
  val BucketsFile = "_buckets"
  val SchemaFile = "_schema.json"
  /** Additive schema evolution is APPEND-ONLY: each evolving writer
    * publishes its new columns as a numbered delta file
    * (`_schema_d<n>.json`, create-exclusive — the same primitive the
    * commit claim CAS uses), and the recorded schema is the FOLD of the
    * base [[SchemaFile]] plus every parseable delta in filename order
    * (first occurrence of a name wins). Two concurrent evolving writers
    * therefore CANNOT lose each other's columns — there is no
    * read-modify-write of shared state to race on, each writer only ever
    * creates its own file (closes the round-4 two-winner window that the
    * old single-file union rewrite left open). A torn/in-flight delta is
    * skipped by readers until its writer finishes; the writer loops until
    * the fold visibly contains its fields before its data commit renames,
    * so no committed document ever carries a column the fold lacks. */
  val SchemaDeltaPrefix = "_schema_d"
  val ManifestFile = "_manifest.json"
  /** Log-format version marker, written once when a table is CREATED.
    * Version 2 = the tombstone flag rides the commit dir name
    * (`commit_<seq>t_<uuid>`), so delete discovery needs no manifest
    * reads. A table with commits and no marker predates the flag (version
    * 1: its tombstone commits are flagged only inside the manifest), and
    * every read and append of it is refused by [[requireFormat]] — read
    * as version 2, its deleted documents would resurface. Rewriting it
    * with overwrite stamps the marker. */
  val FormatFile = "_format"
  val FormatVersion = "2"
  val TargetFileRowsOpt = "targetFileRows"
  /** Comma-separated payload columns whose per-file min/max land in the
    * commit manifest (string/int/long only; others silently skipped) —
    * the Delta/Iceberg-class file-skip extension beyond `_id`. */
  val StatsColumnsOpt = "statsColumns"
  val CommitTagOpt = "commitTag"
  val MaxSplitBytesOpt = "maxSplitBytes"
  val MaxCommitsPerTriggerOpt = "maxCommitsPerTrigger"
  val MaxRowsPerTriggerOpt = "maxRowsPerTrigger"
  val MaxFilesPerTriggerOpt = "maxFilesPerTrigger"
  val ClaimGraceMsOpt = "claimGraceMs"
  val WithOpOpt = "withOp"
  val AutoCompactCommitsOpt = "autoCompactCommits"
  val TombstoneOpt = "tombstone"
  val DefaultSplitBytes: Long = 128L * 1024 * 1024
  /** Reader tolerance for an in-flight writer (claim created, commit
    * rename not yet landed) before the claim is judged crashed and
    * stepped over. The comparison is store mtime vs the READER's clock,
    * so the window must absorb cross-machine clock skew on top of writer
    * stalls; writers fence their own renames at half this window
    * ([[finalizeCommit]]), leaving the other half as the skew + rename
    * budget. Override per stream with the `claimGraceMs` option. */
  val DefaultClaimGraceMs: Long = 5 * 60 * 1000L
  /** Writer-side rename fence: half the reader grace window. Readers may
    * RAISE `claimGraceMs` freely; configuring it BELOW the default breaks
    * the fence invariant (a fenced writer could still land a rename after
    * an impatient reader stepped over it). Test-overridable. */
  @volatile private[graft] var writerFenceMs: Long = DefaultClaimGraceMs / 2
  /** Test hook: one-shot stall injected between winning a claim and the
    * writer-fence check — simulates a GC pause / slow object store on the
    * claim-to-rename path. */
  private[graft] val postClaimStallMsForTest = new AtomicLong(0L)
  // widths beyond 9 digits still parse (zero-padding only keeps the
  // common range lexicographically ordered); the optional `t` marks a
  // TOMBSTONE commit — riding the dir name means delete discovery costs
  // snapshot planning zero manifest reads (same O(1) treatment the epoch
  // watermark gives replay checks)
  private val CommitRe = "commit_([0-9]+)(t?)_.*".r
  private val ClaimRe = "_claim_([0-9]+)".r
  private val SchemaDeltaRe = (SchemaDeltaPrefix + "([0-9]{9})\\.json").r
  private val BucketTagRe = ".*-b([0-9]+)of([0-9]+)-[0-9]+\\.jsonl".r

  /** The writer task a part file came from: its `part-<pid>-<task>` name
    * prefix. */
  def writerOf(file: String): String =
    new Path(file).getName.split('-').take(3).mkString("-")

  /** The bucket of `id` among `buckets`: Spark's murmur3 of the key's
    * UTF-8 bytes (`UTF8String.hashCode`, what `HashPartitioning` computes
    * for a string key), a null key hashing to the seed 42 as there. */
  def bucketOf(id: UTF8String, buckets: Int): Int =
    Math.floorMod(if (id == null) 42 else id.hashCode, buckets)

  /** Fallback-path instrumentation: manifests read on the epoch-replay
    * check. Stays at zero while the high-watermark file is present and
    * current — the O(1) contract `GraftDocConnectorSpec` asserts. */
  private[graft] val fallbackManifestReads = new AtomicLong(0L)

  /** Every manifest read anywhere in the log protocol (planning,
    * admission, replay fallback) — the counting-FS instrument behind the
    * O(1)-manifest-reads specs for snapshot planning. */
  private[graft] val manifestReads = new AtomicLong(0L)

  /** Every listing of a table root, all through [[listRoot]]: a plain
    * batch append makes two, a snapshot's [[tableState]] one. */
  private[graft] val rootListings = new AtomicLong(0L)

  /** The active session's Hadoop configuration (carries `spark.hadoop.*`
    * overrides — object-store credentials, custom FS impls); plain
    * classpath configuration only when no session exists (tests,
    * tooling). */
  def hadoopConf(): Configuration =
    SparkSession.getActiveSession.map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  def requirePath(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-doc: path option required"))

  /** W3 sink-schema validation (reference `MapRDBJSONSinkConfig` key
    * checks): a keyed-document write needs a leading string `_id`. */
  def validateWriteSchema(schema: StructType): Unit = {
    require(schema.fields.nonEmpty, "graft-doc: empty write schema")
    require(schema.fields.head.name == "_id" && schema.fields.head.dataType == StringType,
      s"graft-doc: first write column must be `_id` STRING (the document key); " +
        s"got ${schema.fields.head.name}: ${schema.fields.head.dataType.simpleString}. " +
        "Use GraftDoc.write/DocumentSink.toDocuments to hoist a key field.")
    require(!schema.fieldNames.contains(BucketCol),
      s"graft-doc: `$BucketCol` is the scan's metadata column; rename the document field")
  }

  private def fsFor(p: String): (FileSystem, Path) = {
    val hp = new Path(p)
    (hp.getFileSystem(hadoopConf()), hp)
  }

  def stagingDir(tablePath: String, writeId: String): String =
    s"$tablePath/_staging/$writeId"

  def deleteDir(dir: String): Unit = {
    val (fs, p) = fsFor(dir)
    fs.delete(p, true)
  }

  def readSchema(tablePath: String): Option[StructType] = {
    val (fs, root) = fsFor(tablePath)
    foldedSchema(fs, root, listRoot(fs, root)).map(_._2)
  }

  // ---------------------------------------------------------------- listing

  private case class CommitDir(seq: Long, tombstone: Boolean, path: Path)
  private case class Claim(seq: Long, mtime: Long, path: Path)

  /** One listing of a table root, decoded from the names alone: commit
    * dirs (ascending seq), claims, schema-delta slots (ascending version,
    * torn ones included — a writer picking the next free slot must never
    * reuse a crashed writer's number) and which root markers exist. */
  private case class RootListing(commits: Seq[CommitDir], claims: Seq[Claim],
      schemaDeltas: Seq[(Long, Path)], hasFormat: Boolean, hasBuckets: Boolean,
      hasSchema: Boolean) {
    def latestSeq: Long = commits.lastOption.fold(0L)(_.seq)
  }

  /** The one place the table root is listed: a single `listStatus`, a
    * missing root reading as an empty table. Every driver-side decision
    * that depends on the root's contents derives from one of these. */
  private def listRoot(fs: FileSystem, root: Path): RootListing = {
    rootListings.incrementAndGet()
    val named = (try fs.listStatus(root).toSeq
      catch { case _: java.io.FileNotFoundException => Nil })
      .map(s => s.getPath.getName -> s)
    val files = named.collect { case (n, s) if s.isFile => n }.toSet
    RootListing(
      named.collect { case (CommitRe(q, t), s) if s.isDirectory =>
        CommitDir(q.toLong, t.nonEmpty, s.getPath) }.sortBy(_.seq),
      named.collect { case (ClaimRe(q), s) if s.isFile =>
        Claim(q.toLong, s.getModificationTime, s.getPath) },
      named.collect { case (SchemaDeltaRe(v), s) if s.isFile =>
        v.toLong -> s.getPath }.sortBy(_._1),
      files(FormatFile), files(BucketsFile), files(SchemaFile))
  }

  /** The recorded table schema as (base, fold): base [[SchemaFile]]
    * folded with every PARSEABLE delta in version order, first occurrence
    * of a field name winning among same-type duplicates. Unparseable deltas are in-flight
    * or crashed writers — their fields become visible when (iff) the file
    * completes; their writers do not rename a data commit until then (see
    * [[publishSchemaDelta]]), so skipping them here can never hide a
    * committed document's column.
    *
    * TYPE conflicts are checked HERE, not only at publish time: a torn
    * delta that completes late — after a racing writer's publish-time
    * check could no longer see it — may carry the same column name with a
    * different type. Publish-time checks only see parseable deltas, so
    * fold time is the one place every completed delta is finally visible;
    * silently letting slot order win would retroactively retype a later
    * writer's already-committed column. Readers fail crisply instead. */
  private def foldedSchema(fs: FileSystem, root: Path,
      listed: RootListing): Option[(StructType, StructType)] =
    if (!listed.hasSchema) None
    else {
      val base = schemaFromJson(readFile(fs, new Path(root, SchemaFile)))
      var fields = base.fields.toSeq
      listed.schemaDeltas.foreach { case (v, p) =>
        (try Some(schemaFromJson(readFile(fs, p)))
        catch { case scala.util.control.NonFatal(_) => None }).foreach { d =>
          val byName = fields.map(f => f.name -> f.dataType).toMap
          d.fields.foreach { f =>
            byName.get(f.name).foreach { t =>
              if (t != f.dataType) throw new IllegalStateException(
                s"graft-doc: schema delta $v under $root retypes column " +
                  s"'${f.name}' (${t.simpleString} -> ${f.dataType.simpleString})" +
                  " — two evolving writers committed conflicting types " +
                  "(one delta likely completed after the other's conflict " +
                  "check ran); resolve by removing the conflicting delta file")
            }
          }
          fields = fields ++ d.fields.filterNot(f => byName.contains(f.name))
        }
      }
      Some(base -> StructType(fields))
    }

  /** Test/tooling entry: evolve a table's recorded schema without a data
    * commit (also what a metadata-only ALTER would call). */
  private[graft] def publishSchemaDelta(tablePath: String,
      newFields: Seq[StructField]): Unit = {
    val (fs, root) = fsFor(tablePath)
    publishSchemaDelta(fs, root, newFields)
  }

  /** Publish `newFields` as a schema delta and loop until the fold
    * visibly contains them. Create-exclusive on a numbered slot is the
    * only write — no shared file is ever rewritten, so two concurrent
    * evolving writers both land (the loser of a slot just takes the next
    * one). A racer publishing the SAME column name with a DIFFERENT type
    * is a genuine user conflict and fails crisply here, before this
    * writer's data commit; same-name-same-type racers dedup in the fold. */
  private def publishSchemaDelta(fs: FileSystem, root: Path,
      newFields: Seq[StructField]): Unit = {
    var attempts = 0
    var done = false
    while (!done) {
      val listed = listRoot(fs, root)
      val (_, folded) = foldedSchema(fs, root, listed).getOrElse(throw new IllegalStateException(
        s"graft-doc: schema base vanished under $root during evolution"))
      val byName = folded.fields.map(f => f.name -> f.dataType).toMap
      newFields.foreach { f =>
        byName.get(f.name).foreach { t =>
          if (t != f.dataType) throw new IllegalArgumentException(
            s"graft-doc: concurrent schema evolution conflict on column " +
              s"'${f.name}' — a racing writer recorded type ${t.simpleString}, " +
              s"this writer carries ${f.dataType.simpleString}")
        }
      }
      val missing = newFields.filterNot(f => byName.contains(f.name))
      if (missing.isEmpty) done = true
      else {
        val next = listed.schemaDeltas.lastOption.fold(0L)(_._1) + 1
        val p = new Path(root, f"$SchemaDeltaPrefix$next%09d.json")
        try writeFile(fs, p, StructType(missing).json, overwrite = false)
        catch { case _: java.io.IOException => () } // slot taken — re-fold, retry
        attempts += 1
        if (attempts > 4096) throw new java.io.IOException(
          s"graft-doc: could not publish schema delta under $root after $attempts attempts")
      }
    }
  }

  def statsOf(messages: Array[WriterCommitMessage]): Seq[GraftDocFileStat] =
    messages.toSeq.collect { case m: GraftDocCommitMessage => m.files }.flatten

  // ------------------------------------------------------------ JSON codec

  /** A commit manifest: the writer's (queryId, epochId) for replay checks,
    * an optional tag (compaction finds its base by it) and each part file's
    * stats. */
  private[graft] case class Manifest(queryId: String, epochId: Long,
      tag: Option[String], files: Seq[GraftDocFileStat])

  /** The log's one JSON codec, and the one place its manifests and
    * `_epochs/<queryId>` watermarks are read and written: Jackson's tree
    * model (the repo's idiom, as in `AvroSchemaBridge`), compact output in
    * field order — `{"queryId":…,"epochId":…,"tag":…,
    * "files":[{"name":…,"rows":…,"minId":…,"maxId":…,"cols":[{"c":…,
    * "t":…,"min":…,"max":…}]}]}` with absent optionals omitted, and
    * `{"epochId":…,"seq":…}` for a watermark. */
  private[graft] object LogCodec {
    private val mapper = new ObjectMapper()
    private val EpochsDir = "_epochs"

    def manifestJson(m: Manifest): String = {
      val n = mapper.createObjectNode().put("queryId", m.queryId).put("epochId", m.epochId)
      m.tag.foreach(n.put("tag", _))
      val files = n.putArray("files")
      m.files.foreach { f =>
        val o = files.addObject().put("name", f.name).put("rows", f.rows)
        for (lo <- f.minId; hi <- f.maxId) o.put("minId", lo).put("maxId", hi)
        if (f.cols.nonEmpty) {
          val cols = o.putArray("cols")
          f.cols.foreach(c => cols.addObject()
            .put("c", c.col).put("t", c.t).put("min", c.min).put("max", c.max))
        }
      }
      mapper.writeValueAsString(n)
    }

    def parseManifest(json: String): Manifest = {
      val n = mapper.readTree(json)
      def opt(o: JsonNode, k: String) = Option(o.get(k)).map(_.asText)
      Manifest(n.path("queryId").asText, n.path("epochId").asLong,
        opt(n, "tag"),
        n.path("files").asScala.toSeq.map { f =>
          GraftDocFileStat(f.path("name").asText, f.path("rows").asLong,
            opt(f, "minId"), opt(f, "maxId"),
            f.path("cols").asScala.toSeq.map(c => GraftDocColStat(c.path("c").asText,
              c.path("t").asText, c.path("min").asText, c.path("max").asText)))
        })
    }

    /** The manifest of commit dir `dir`; None when it has none. */
    def readManifest(fs: FileSystem, dir: Path): Option[Manifest] =
      try {
        val m = parseManifest(readFile(fs, new Path(dir, ManifestFile)))
        manifestReads.incrementAndGet()
        Some(m)
      } catch { case _: java.io.FileNotFoundException => None }

    def writeManifest(fs: FileSystem, dir: Path, m: Manifest): Unit =
      writeFile(fs, new Path(dir, ManifestFile), manifestJson(m), overwrite = true)

    def watermarkJson(epochId: Long, seq: Long): String =
      mapper.writeValueAsString(
        mapper.createObjectNode().put("epochId", epochId).put("seq", seq))

    /** (epochId, seq), or None for a torn or foreign file. */
    def parseWatermark(json: String): Option[(Long, Long)] = {
      val n = mapper.readTree(json)
      for (e <- Option(n.get("epochId")) if e.isIntegralNumber;
           s <- Option(n.get("seq")) if s.isIntegralNumber) yield (e.asLong, s.asLong)
    }

    private def watermarkPath(root: Path, queryId: String): Path =
      new Path(new Path(root, EpochsDir), queryId.replaceAll("[^A-Za-z0-9._-]", "_"))

    /** (highest committed epochId, the commit seq it landed at); None when
      * missing or torn — the caller then falls back to the manifests. */
    def readWatermark(fs: FileSystem, root: Path, queryId: String): Option[(Long, Long)] =
      try parseWatermark(readFile(fs, watermarkPath(root, queryId)))
      catch { case _: Exception => None }

    def writeWatermark(fs: FileSystem, root: Path, queryId: String,
        epochId: Long, seq: Long): Unit = {
      fs.mkdirs(new Path(root, EpochsDir))
      // single writer per queryId (the query's own driver); the atomic
      // temp+rename means a concurrent replay check can never observe a
      // torn file (and the manifest fallback still covers a crash between
      // commit rename and this update)
      writeFileAtomic(fs, watermarkPath(root, queryId), watermarkJson(epochId, seq))
    }

    /** Truncation forgets every query's watermark with the commits. */
    def dropWatermarks(fs: FileSystem, root: Path): Unit =
      fs.delete(new Path(root, EpochsDir), true)
  }

  // ----------------------------------------------------------- file listing

  /** (commitSeq, file) for every part file in the log, commit order. */
  def listCommitFiles(tablePath: String): Seq[(Long, String)] =
    listCommitFileInfos(tablePath).map(fi => fi.seq -> fi.path)

  /** `bucket` of `buckets` as the file name states them; `buckets` 0 for
    * an untagged file (written before the bucket layout). */
  case class CommitFileInfo(seq: Long, path: String, bytes: Long, rows: Long,
      minId: Option[String], maxId: Option[String], tombstone: Boolean,
      colStats: Seq[GraftDocColStat] = Nil, bucket: Int = 0, buckets: Int = 0)

  /** Every part file with its commit seq, byte length, and (when the
    * manifest recorded them) row count and `_id` min/max — the scan's
    * planning input. */
  def listCommitFileInfos(tablePath: String): Seq[CommitFileInfo] =
    listCommitFileInfosInRange(tablePath, 0L, Long.MaxValue)

  /** Range-sliced listing: manifests and part files are read only for
    * commits with fromExcl < seq ≤ toIncl AND `seqOk(seq)` (the seq is in
    * the dir name, so pruned commits cost nothing beyond the root
    * listStatus) — a tailing CDC reader plans each micro-batch in
    * O(slice), not O(log), and a `_commit`-bounded batch scan never even
    * lists pruned commits' files. `withStats = false` skips the manifest
    * read entirely (rows report 0, `_id` min/max report unknown) — the
    * right mode when no pushed filter needs `_id` stats, which makes
    * snapshot planning O(0) manifest reads. */
  def listCommitFileInfosInRange(tablePath: String, fromExcl: Long,
      toIncl: Long, withStats: Boolean = true,
      seqOk: Long => Boolean = _ => true): Seq[CommitFileInfo] =
    commitFileSlices(tablePath, fromExcl, toIncl, withStats, seqOk)
      .flatMap(_._2).toSeq

  /** Lazy per-commit view of [[listCommitFileInfosInRange]]: ONE root
    * listing up front, then file listings (and manifests, only when
    * `withStats`) read commit by commit as the iterator is consumed —
    * so a consumer that stops early (streaming admission against a
    * row/file budget) pays for the commits it admits, not the whole
    * backlog behind the checkpoint. */
  def commitFileSlices(tablePath: String, fromExcl: Long,
      toIncl: Long, withStats: Boolean = true,
      seqOk: Long => Boolean = _ => true): Iterator[(Long, Seq[CommitFileInfo])] = {
    val (fs, root) = fsFor(tablePath)
    requireFormat(listRoot(fs, root), tablePath).commits.iterator
      .filter(c => c.seq > fromExcl && c.seq <= toIncl && seqOk(c.seq))
      .map { c =>
        val stat = (if (withStats) LogCodec.readManifest(fs, c.path) else None)
          .fold(Map.empty[String, GraftDocFileStat])(_.files.map(f => f.name -> f).toMap)
        c.seq -> fs.listStatus(c.path).toSeq
          .filter(s => s.isFile && s.getPath.getName.endsWith(".jsonl"))
          .map { s =>
            val name = s.getPath.getName
            val st = stat.get(name)
            val (b, nb) = name match {
              case BucketTagRe(b, nb) => (b.toInt, nb.toInt)
              case _ => (0, 0)
            }
            CommitFileInfo(c.seq, s.getPath.toString, s.getLen, st.fold(0L)(_.rows),
              st.flatMap(_.minId), st.flatMap(_.maxId), c.tombstone,
              st.fold(Seq.empty[GraftDocColStat])(_.cols), b, nb)
          }
      }
  }

  /** Highest commit seq a READER may safely advance to: the youngest
    * claim without its commit dir marks an in-flight commit whose rename
    * hasn't landed — advancing past it would permanently skip that seq
    * once a checkpoint records the offset. Claims older than `graceMs`
    * with no dir are crashed writers (their seq will never fill; the
    * claim file blocks reuse) and are skipped so a dead claim cannot
    * stall the stream forever. */
  def safeLatestSeq(tablePath: String, graceMs: Long): Long = {
    val (fs, root) = fsFor(tablePath)
    val listed = listRoot(fs, root)
    val latest = listed.latestSeq
    val committed = listed.commits.map(_.seq).toSet
    val now = System.currentTimeMillis()
    listed.claims
      .filter(c => now - c.mtime < graceMs && c.seq <= latest && !committed(c.seq))
      .map(_.seq).minOption.fold(latest)(_ - 1)
  }

  /** The table's recorded bucket count, if any (see [[BucketsFile]]). */
  def recordedBuckets(tablePath: String): Option[Int] = {
    val (fs, root) = fsFor(tablePath)
    try Some(readFile(fs, new Path(root, BucketsFile)).trim.toInt)
    catch {
      case _: java.io.FileNotFoundException | _: NumberFormatException => None
    }
  }

  /** B for a write about to start: the recorded B for an append, else
    * (a table being created or truncated, or one written before the bucket
    * layout) the session's shuffle partition count, which the commit then
    * records. */
  def writeBuckets(tablePath: String, truncate: Boolean): Int =
    (if (truncate) None else recordedBuckets(tablePath))
      .getOrElse(SQLConf.get.defaultNumShufflePartitions)

  /** `listed`, unless it shows a version-1 table (see [[FormatFile]]). */
  private def requireFormat(listed: RootListing, tablePath: String): RootListing = {
    if (listed.commits.nonEmpty && !listed.hasFormat)
      throw new IllegalStateException(
        s"graft-doc: $tablePath is a version-1 table (commits but no $FormatFile " +
          "marker): its deletes are recorded only in commit manifests, which are " +
          "no longer read for them. Rewrite the table with overwrite.")
    listed
  }

  /** One-pass consistent view for snapshot construction: (latest commit
    * seq, tombstone commit seqs). Reading both in a single listing and
    * pinning the scan to `_commit <= latestSeq` makes `snapshot` a
    * point-in-time read — a delete or write landing between plan
    * construction and execution is invisible instead of half-visible
    * (the tombstone set and the file list can never disagree). Cost is
    * ONE root listing, which also shows the `_format` marker (a version-1
    * table is refused, see [[FormatFile]]), and ZERO manifest reads: the
    * tombstone flag rides the commit dir name
    * (`commit_<seq>t_<uuid>`), so delete discovery on a long-unmaintained
    * table (thousands of CDC epochs, no compaction) stays flat instead of
    * paying O(#commits) driver FS round-trips — `GraftDocConnectorSpec`
    * pins this with a manifest-read counter over 50 epochs. */
  def tableState(tablePath: String): (Long, Set[Long]) = {
    val (fs, root) = fsFor(tablePath)
    val listed = requireFormat(listRoot(fs, root), tablePath)
    (listed.latestSeq, listed.commits.filter(_.tombstone).map(_.seq).toSet)
  }

  /** Live commit-dir count — one root listStatus, no file reads; the
    * auto-compaction trigger's cost model. */
  def liveCommitCount(tablePath: String): Int = {
    val (fs, root) = fsFor(tablePath)
    listRoot(fs, root).commits.size
  }

  private def writeFile(fs: FileSystem, p: Path, content: String,
      overwrite: Boolean): Unit = {
    // Create-exclusive must be ATOMIC — every slot protocol here (delta
    // slots, claim markers) leans on it. HDFS's create(overwrite=false)
    // is atomic; object stores map to conditional PUT (see README). But
    // Hadoop's LOCAL filesystem implements it as exists-check-then-open:
    // two racers can both pass the check and the later open TRUNCATES
    // the earlier writer's bytes — the winner's content silently
    // vanishes while its publish loop believes the slot landed (observed
    // as a lost column under a 4-thread evolution stampede). For the
    // file scheme, claim the slot first with NIO createFile (POSIX
    // O_CREAT|O_EXCL, genuinely atomic), then write the content through
    // the Hadoop FS as the slot's owner; a fold that reads the claimed-
    // but-unwritten file sees a torn delta and skips it until complete,
    // which is the protocol's sanctioned in-flight state.
    if (!overwrite && fs.getScheme == "file") {
      if (!createExclusive(fs, p))
        throw new java.io.IOException(s"graft-doc: $p already exists")
    }
    val out = fs.create(p, overwrite || fs.getScheme == "file")
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Atomic create-exclusive of an empty file: true iff this caller won
    * the slot. The one primitive every slot/claim protocol reduces to
    * (README maps it to conditional PUT for object stores). */
  private def createExclusive(fs: FileSystem, p: Path): Boolean =
    if (fs.getScheme == "file") {
      try {
        java.nio.file.Files.createFile(java.nio.file.Paths.get(p.toUri.getPath))
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: java.nio.file.NoSuchFileException => false // parent raced away
      }
    } else {
      try { fs.create(p, false).close(); true }
      catch { case _: java.io.IOException => false }
    }

  private def readFile(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Atomic file replacement: write a temp sibling, then a rename that
    * OVERWRITES the target in one step (`FileContext` rename semantics;
    * plain `FileSystem.create(overwrite = true)` truncates in place, so a
    * concurrent reader can observe a torn file). Both the temp write and
    * the rename go through `FileContext`, whose local implementation is a
    * `ChecksumFs`: the temp file gets a `.crc` sibling, and the rename
    * moves that sibling with the file, over the target's, so no stale
    * checksum survives to poison later checksummed reads. */
  private def writeFileAtomic(fs: FileSystem, p: Path, content: String): Unit = {
    val qp = fs.makeQualified(p)
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(qp.toUri, hadoopConf())
    val tmp = new Path(qp.getParent, s".${qp.getName}.tmp-${UUID.randomUUID().toString}")
    val out = fc.create(tmp,
      java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE,
        org.apache.hadoop.fs.CreateFlag.OVERWRITE))
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fc.rename(tmp, qp, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  // -------------------------------------------------- epoch high-watermark

  /** O(1) epoch-replay check: the high-watermark file answers most
    * replays in one read; only commits ABOVE the recorded watermark seq
    * (normally none) have their manifests scanned — covering the crash
    * window between commit rename and watermark update. */
  private def epochAlreadyCommitted(fs: FileSystem, root: Path,
      listed: RootListing, queryId: String, epochId: Long): Boolean = {
    val hw = LogCodec.readWatermark(fs, root, queryId)
    if (hw.exists(epochId <= _._1)) return true
    val fromSeq = hw.fold(0L)(_._2)
    val found = listed.commits.filter(_.seq > fromSeq).find { c =>
      LogCodec.readManifest(fs, c.path).exists { m =>
        fallbackManifestReads.incrementAndGet()
        m.queryId == queryId && m.epochId == epochId
      }
    }
    // repair the watermark so the next replay check is O(1) again
    found.foreach(c => LogCodec.writeWatermark(fs, root, queryId, epochId, c.seq))
    found.isDefined
  }

  // -------------------------------------------------------------- commit

  /** Commit locks scoped PER TABLE PATH: two tables never serialize
    * against each other; same-table in-JVM writers still do (which keeps
    * the common single-driver case free of claim contention). */
  private val tableLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Atomically publish a staged write as the next commit.
    *
    * Concurrent writers (separate drivers on one table) are safe: the
    * sequence number is claimed by an atomic `create(overwrite=false)` of
    * a `_claim_<seq>` marker — exactly one writer wins a given seq; the
    * loser advances and retries, so both commits land with distinct seqs.
    * (On stores without atomic create-exclusive — S3 without a consistency
    * layer — pair the table with a coordinating log service, as every
    * log-structured format does.)
    *
    * Writer-side FENCE: a streaming reader steps over claims older than
    * its grace window ([[safeLatestSeq]]); if this writer stalls (GC
    * pause, slow store) long enough that its rename could land on a seq
    * readers no longer hold for — half the default window, measured on
    * the writer's own monotonic clock, so clock skew cannot widen it —
    * it abandons the claim and re-seqs, making a skipped-forever commit
    * structurally impossible rather than merely unlikely. */
  def finalizeCommit(tablePath: String, stagingDir: String, schema: StructType,
      queryId: String, epochId: Long, truncateFirst: Boolean,
      stats: Seq[GraftDocFileStat] = Nil,
      tag: Option[String] = None,
      tombstone: Boolean = false,
      buckets: Int): Unit =
    tableLocks.computeIfAbsent(tablePath, _ => new Object).synchronized {
    val (fs, root) = fsFor(tablePath)
    val staging = new Path(stagingDir)
    fs.mkdirs(staging) // zero-row writes still commit (empty batch is a commit)

    // one listing decides the replay check, truncation, the root markers,
    // schema admission and the first seq to claim; the claim loop and the
    // schema-delta loop re-list where the protocol needs a fresh view
    val listed = listRoot(fs, root)
    if (epochId >= 0 && epochAlreadyCommitted(fs, root, listed, queryId, epochId)) {
      fs.delete(staging, true) // replayed micro-batch: already in the log
      return
    }
    if (truncateFirst) {
      listed.commits.foreach(c => fs.delete(c.path, true))
      listed.claims.foreach(c => fs.delete(c.path, false))
      LogCodec.dropWatermarks(fs, root)
    } else {
      // an append never gives a version-1 table the marker: its
      // manifest-flagged tombstones would go undiscovered (the write's
      // abort drops the staged files)
      requireFormat(listed, tablePath)
    }
    // past the check, a table without the marker is being created (no
    // commits yet, or just truncated)
    if (!listed.hasFormat)
      writeFile(fs, new Path(root, FormatFile), FormatVersion, overwrite = true)
    // a truncating write's B becomes the table's, as does the B of any
    // write that finds none recorded (a new table, or the first append to
    // one written before the bucket layout); a racing creator that lost
    // keeps its own B in its file names, which readers see as a mixed table
    if (truncateFirst || !listed.hasBuckets)
      writeFileAtomic(fs, new Path(root, BucketsFile), buckets.toString)

    // schema stability across commits: an append whose fields conflict
    // with the table's recorded schema would silently corrupt every later
    // read (the scan parses documents with the recorded schema), so it is
    // rejected here — the write-side schema validation the reference
    // performs at configure time (W3), enforced at the log boundary.
    // ADDITIVE evolution is the one admitted change; new NULLABLE fields
    // are published as append-only delta files (see [[SchemaDeltaPrefix]])
    // and old documents read null for them (the JSON parser yields null
    // for absent keys), exactly merge-on-read evolution semantics.
    // Tombstone commits carry only `_id` and skip the check entirely.
    val schemaPath = new Path(root, SchemaFile)
    val hasSchema = listed.hasSchema && !truncateFirst
    if (!tombstone && hasSchema) {
      // Append admission, three rules (merge-on-read evolution):
      //  1. every BASE field (the table-creation schema) must be carried
      //     with its recorded type — dropping/retyping the core schema is
      //     not additive and requires overwrite;
      //  2. no carried field may RETYPE any recorded field (base or
      //     evolved) — a retype would corrupt parses of existing docs;
      //  3. evolved (delta-added) fields MAY be omitted: they are
      //     nullable by construction, and an append that omits one reads
      //     null for it — the same merge-on-read rule that lets OLD docs
      //     read null for NEW fields. This is what admits two writers
      //     racing distinct evolutions from the same base: each omits
      //     only the other's delta field, never a base field.
      val (base, recorded) = foldedSchema(fs, root, listed).get
      val gotByName = schema.fields.map(f => f.name -> f).toMap
      val carriesAllBase = base.fields.forall(bf =>
        gotByName.get(bf.name).exists(_.dataType == bf.dataType))
      val recByName = recorded.fields.map(f => f.name -> f.dataType).toMap
      val retypes = schema.fields.exists(f =>
        recByName.get(f.name).exists(_ != f.dataType))
      if (!carriesAllBase || retypes) {
        fs.delete(staging, true)
        throw new IllegalArgumentException(
          s"graft-doc: append schema ${schema.simpleString} does not match " +
            s"table schema ${recorded.simpleString} at $tablePath " +
            "(additive new fields evolve the schema; dropping or retyping " +
            "recorded fields requires overwrite)")
      }
      // publish any new columns NOW, before any commit lands: append-only
      // delta files make concurrent evolution lost-update-free (see
      // [[SchemaDeltaPrefix]]); if this writer subsequently fails to
      // commit, the extra column stays recorded and reads null — the
      // benign direction (pre-evolution docs read null anyway)
      val newFields = schema.fields
        .filterNot(f => recorded.fieldNames.contains(f.name))
        .map(_.copy(nullable = true)).toSeq // pre-evolution docs read null
      if (newFields.nonEmpty) publishSchemaDelta(fs, root, newFields)
    } else if (truncateFirst && listed.hasSchema) {
      fs.delete(schemaPath, false) // truncate redefines the table schema
      listed.schemaDeltas.foreach { case (_, p) => fs.delete(p, false) }
    }

    LogCodec.writeManifest(fs, staging, Manifest(queryId, epochId, tag, stats))
    if (!hasSchema) {
      if (!tombstone) writeFile(fs, schemaPath, schema.json, overwrite = false)
      else { fs.delete(staging, true)
        throw new IllegalArgumentException(
          s"graft-doc: cannot delete from non-existent table $tablePath") }
    }

    // claim-CAS loop: win a seq via atomic create-exclusive, then rename
    var seq = (if (truncateFirst) 0L else listed.latestSeq) + 1
    var committed = false
    var attempts = 0
    var seen = listed // the latest listing: after a won claim, a fresh one
    while (!committed) {
      val claim = new Path(root, f"_claim_$seq%09d")
      val claimedAtNs = System.nanoTime()
      val won = createExclusive(fs, claim) // atomic, incl. the file scheme
      if (won) seen = listRoot(fs, root)
      if (won && seen.commits.exists(_.seq == seq)) {
        // stale win: the original claimant already renamed its commit and
        // released the claim while we were working from an older listing —
        // the seq is occupied by a DIR now; release and move past it.
        // (Safe against double-commit: only a claim holder creates the
        // seq's dir, we hold the claim, and the previous holder finished.)
        fs.delete(claim, false)
        attempts += 1
        seq += 1
      } else if (won) {
        val stall = postClaimStallMsForTest.getAndSet(0L)
        if (stall > 0) Thread.sleep(stall)
        // WRITER FENCE (checked on this writer's own monotonic clock, so
        // cross-machine clock skew cannot widen it): if more than half
        // the grace window elapsed between claiming this seq and reaching
        // the rename — GC pause, slow store, FS retries — a reader may be
        // about to step over the claim, and a rename landing after that
        // would be skipped forever. Abandon instead: LEAVE the claim file
        // (it blocks the seq from fresh re-claims that would land a
        // commit on a stepped-over seq; a later committer GCs it) and
        // retry on a fresh seq. The residual exposure is one rename
        // latency past the check, which the reader-side window's other
        // half absorbs along with clock skew.
        val elapsedMs = (System.nanoTime() - claimedAtNs) / 1000000L
        if (elapsedMs > writerFenceMs) {
          attempts += 1
          if (attempts > 4096) throw new java.io.IOException(
            s"graft-doc: writer fence kept abandoning seqs under $tablePath " +
              s"($attempts attempts; last elapsed ${elapsedMs}ms > fence ${writerFenceMs}ms)")
          seq += 1
        } else {
          val tomb = if (tombstone) "t" else ""
          val target = new Path(root, f"commit_$seq%09d$tomb%s_${staging.getName}")
          if (!fs.rename(staging, target))
            throw new java.io.IOException(
              s"graft-doc: commit rename failed: $staging -> $target")
          // the commit dir now occupies the seq; the claim has served its
          // arbitration purpose and would otherwise accumulate forever
          fs.delete(claim, false)
          committed = true
        }
      } else {
        attempts += 1
        if (attempts > 4096) throw new java.io.IOException(
          s"graft-doc: could not claim a commit seq under $tablePath after $attempts attempts")
        seq += 1
      }
    }
    if (epochId >= 0) LogCodec.writeWatermark(fs, root, queryId, epochId, seq)
    // GC leaked claims (crashed or fenced-out writers): any claim whose
    // seq is below OUR committed dir can never be legitimately claimed
    // again (seq claiming always starts above the latest commit dir), so
    // removing it is safe once its writer is certainly not about to
    // rename. GC exists only to stop markers accumulating forever, so it
    // uses a cutoff 6× the grace window — a LIVE writer's claim (which
    // renames within the fence, ≤ grace/2 on its own monotonic clock) is
    // deleted early only if this committer's wall clock disagrees with
    // the store's mtime clock by more than 5.5 grace windows (>27 min at
    // defaults) — far beyond any NTP-managed skew, vs the single window
    // the old cutoff tolerated. Racing deletes with another committer's
    // GC is harmless — delete is idempotent here. The claims are those of
    // the listing taken right after this commit's claim was won.
    try {
      val cutoff = System.currentTimeMillis() - 6 * DefaultClaimGraceMs
      seen.claims.filter(c => c.seq < seq && c.mtime < cutoff)
        .foreach(c => fs.delete(c.path, false))
    } catch { case _: Exception => () } // GC is best-effort housekeeping
    // prune an empty _staging/<writeId> parent left by streaming epochs
    val parent = staging.getParent
    if (parent.getName != "_staging" && fs.exists(parent) &&
        fs.listStatus(parent).isEmpty) fs.delete(parent, false)
  }

  /** Seq of the commit whose manifest carries `tag` (compaction uses this
    * to locate its own base commit instead of guessing from a re-list). */
  def findCommitSeqByTag(tablePath: String, tag: String): Option[Long] = {
    val (fs, root) = fsFor(tablePath)
    listRoot(fs, root).commits.reverseIterator
      .find(c => LogCodec.readManifest(fs, c.path).exists(_.tag.contains(tag)))
      .map(_.seq)
  }

  /** Drop every commit strictly below `keepFrom` (compaction cleanup). */
  def dropCommitsBelow(tablePath: String, keepFrom: Long): Unit = {
    val (fs, root) = fsFor(tablePath)
    listRoot(fs, root).commits.filter(_.seq < keepFrom).foreach(c => fs.delete(c.path, true))
  }

  def latestCommitSeq(tablePath: String): Long = {
    val (fs, root) = fsFor(tablePath)
    listRoot(fs, root).latestSeq
  }
}
