package graft.sources

import java.util.Base64
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.sources.Stamps.{ColStamp, FileStamp, Iv, LongIv, StrIv}

/** One committed version of a snapshot table, as its `_log/N.manifest`
  * records it — the commit record and the planner's metadata in one.
  * [[Manifest.parse]] and [[Manifest.render]] are the only readers and
  * writers of the line format; every other component reads typed fields.
  *
  * LINE GRAMMAR (one item per line, blank lines ignored):
  *
  *  - `name` — a data file of the version, relative to the table's data
  *    directory (`pt_c=v/part-...` on partitioned layouts);
  *  - `-name` — a delete-vector file (parquet key list under the data
  *    directory): rows whose key it holds are logically absent;
  *  - `# k=v` — commit metadata:
  *    - `ts=<millis>` commit wall-clock time; `op=<label>` operation;
  *    - `key=<col>`, `schema=<json>`, `partcols=<c,...>`,
  *      `partbucket=<col>:<n>` — the table's key, logical schema and
  *      layout;
  *    - `rows=<file>:<count>` and
  *      `cstats=<file>:<col>:<kind>:<lo>:<hi>:<nulls>` — per-file
  *      statistics ([[Stamps]]); kind `i` = long-encoded
  *      (integral/date-days/timestamp-micros), `s` = base64 UTF-8; `-` =
  *      absent. Base64 has no ':' so the split is unambiguous; column
  *      names containing ':' are never stamped;
  *    - `bloomidx=<sidecar>` — a Bloom sidecar covering some files;
  *    - `physmap=<logical>:<prev>[:<older>...]` and `dropped=<name>` —
  *      rename chains and drop tombstones;
  *    - `constraint=<name>:<check sql>` — a CHECK constraint (names are
  *      identifiers; the first ':' splits);
  *    - anything else is a caller tag (`txn=`, `asof=`, ...), kept in
  *      order and never interpreted here.
  *
  * Stat stamps are advisory: a malformed `rows=`/`cstats=` line is dropped
  * on parse (the file degrades to never-skipped, how unstamped files
  * already behave) instead of failing every read of the version.
  *
  * MANIFEST SIZING: a manifest lists the version's FULL file set plus its
  * stamps — one `rows=` line and up to [[Stamps.MaxStampedCols]] `cstats=`
  * lines per file — so each commit writes O(live files) metadata text:
  * ~1 KB/file fully stamped, i.e. ~100 MB per commit on a 10^5-file
  * table, noise beside the data write it accompanies and read once per
  * planning operation (cheaper than the per-file footer fetches it
  * replaces). The full listing is what buys O(1)-read time travel and
  * set-algebra CDC (two manifests diffed, no log replay); the total
  * metadata footprint is bounded by vacuum's retention, not by table
  * lifetime. A Delta-style add/remove delta log with checkpoints trades
  * manifest write size for reader-side replay — the right trade past
  * ~10^5-10^6 live files per table, where partitioning the table is the
  * simpler lever. Bloom sidecars live OUTSIDE the manifest as parquet
  * files: at ~1 bit-something per row they are data-sized.
  */
final case class Manifest(
    files: Seq[String] = Nil,
    deletes: Seq[String] = Nil,
    ts: Option[Long] = None,
    op: Option[String] = None,
    key: Option[String] = None,
    schema: Option[StructType] = None,
    partCols: Seq[String] = Nil,
    bucket: Option[(String, Int)] = None,
    physMap: Map[String, Seq[String]] = Map.empty,
    dropped: Set[String] = Set.empty,
    constraints: Seq[(String, String)] = Nil,
    stamps: Map[String, FileStamp] = Map.empty,
    blooms: Seq[String] = Nil,
    tags: Seq[(String, String)] = Nil) {
  import Manifest._

  /** The value of the first caller tag named `name`. */
  def tag(name: String): Option[String] = tags.collectFirst { case (`name`, v) => v }

  /** `(from, to)` of a RENAME COLUMN commit, read from its op label. */
  def renamedColumn: Option[(String, String)] =
    op.filter(_.startsWith(RenameOp + " ")).map { o =>
      val body = o.stripPrefix(RenameOp + " ")
      val i = body.lastIndexOf(':') // names are stamp-safe (no ':')
      (body.substring(0, i), body.substring(i + 1))
    }

  /** The successor of this version for a commit labelled `op` that
    * stamps `key` and `schema` and treats this version's files as `carry`
    * says — the one carry rule of the log:
    *
    *  - the layout spec and constraints always carry (constraints are the
    *    table's contract, not its state: a restore rewinds the files but
    *    keeps this version's constraint set);
    *  - stat stamps carry for kept files only; a rename remaps them to
    *    the new name and a drop removes the dead chain's;
    *  - Bloom sidecar references carry unless the commit replaces the
    *    whole file set (verdict rows for since-rewritten files are
    *    filtered by the candidate set at probe time);
    *  - rename chains and drop tombstones carry unless no pre-commit file
    *    stays live (a full rewrite retires them);
    *  - delete vectors carry unless the commit replaces the file set;
    *  - caller tags never carry, and `ts` is stamped at commit.
    */
  def next(op: String, key: String, schema: StructType, carry: Carry = Carry.All,
      tags: Seq[(String, String)] = Nil): Manifest = {
    val base = copy(ts = None, op = Some(op), key = Some(key), schema = Some(schema),
      tags = tags)
    carry match {
      case Carry.All => base
      case Carry.Restore(to) =>
        to.copy(ts = None, op = Some(op), key = Some(key), schema = Some(schema),
          tags = tags, constraints = constraints)
      case Carry.Keep(kept, w) =>
        val keep = kept.toSet
        val retire = kept.isEmpty
        base.copy(files = kept ++ w.files,
          stamps = stamps.filter(e => keep(e._1)) ++ w.stamps,
          blooms = w.blooms ++ blooms,
          physMap = if (retire) Map.empty else physMap,
          dropped = if (retire) Set.empty else dropped)
      case Carry.Replace(w) =>
        base.copy(files = w.files, deletes = Nil, stamps = w.stamps,
          blooms = w.blooms, physMap = Map.empty, dropped = Set.empty)
      case Carry.Rename(from, to) =>
        base.copy(
          physMap = (physMap - from).updated(to, from +: physMap.getOrElse(from, Nil)),
          stamps = stamps.map { case (n, st) =>
            n -> st.cols.get(from).fold(st)(c => st.copy(cols = st.cols - from + (to -> c)))
          })
      case Carry.Drop(name) =>
        val dead = physMap.getOrElse(name, Nil).toSet + name
        base.copy(physMap = physMap - name, dropped = dropped ++ dead,
          stamps = stamps.map { case (n, st) => n -> st.copy(cols = st.cols -- dead) }
            .filter(_._2.nonEmpty))
    }
  }

  /** The manifest text, one line per element: metadata first (`ts`, `op`,
    * tags, table spec, stamps sorted by file, sidecars, evolution,
    * constraints), then delete vectors and data files, each sorted.
    */
  def render: Seq[String] =
    ts.map(line(Ts, _)).toSeq ++ op.map(line(Op, _)) ++
      tags.map { case (k, v) => line(k, v) } ++
      key.map(line(Key, _)) ++ schema.map(s => line(Schema, s.json)) ++
      (if (partCols.isEmpty) Nil else Seq(line(PartCols, partCols.mkString(",")))) ++
      bucket.map { case (c, n) => line(PartBucket, s"$c:$n") } ++
      stamps.toSeq.sortBy(_._1).flatMap { case (f, st) => stampLines(f, st) } ++
      blooms.map(line(BloomIdx, _)) ++
      physMap.toSeq.sortBy(_._1).map { case (l, olds) =>
        line(PhysMap, (l +: olds).mkString(":")) } ++
      dropped.toSeq.sorted.map(line(Dropped, _)) ++
      constraints.map { case (n, e) => line(Constraint, s"$n:$e") } ++
      deletes.sorted.map("-" + _) ++ files.sorted
}

object Manifest {

  /** Files a commit staged, with their footer stamps and the Bloom
    * sidecars built over them.
    */
  final case class Written(files: Seq[String], stamps: Map[String, FileStamp],
      blooms: Seq[String])

  /** What a commit does with its base version's data files. */
  sealed trait Carry
  object Carry {
    /** Metadata-only: every file, stamp and record carries by reference. */
    case object All extends Carry
    /** Copy-on-write: `kept` base files carry, `written` join them. */
    final case class Keep(kept: Seq[String], written: Written) extends Carry
    /** Full replacement: `written` is the whole file set. */
    final case class Replace(written: Written) extends Carry
    /** Metadata-only RESTORE: the files and records of version `to`. */
    final case class Restore(to: Manifest) extends Carry
    /** Metadata-only RENAME COLUMN `from` to `to`. */
    final case class Rename(from: String, to: String) extends Carry
    /** Metadata-only DROP COLUMN `name`. */
    final case class Drop(name: String) extends Carry
  }

  /** Op label of a RENAME COLUMN commit ([[Manifest.renamedColumn]]). */
  def renameOp(from: String, to: String): String = s"$RenameOp $from:$to"

  /** Tag name of a streaming sink's `<streamId>/<epochId>` stamp. */
  val TxnTag = "txn"

  private val RenameOp = "rename-column"
  // metadata line names: `# <name>=<value>`
  private val Ts = "ts"
  private val Op = "op"
  private val Key = "key"
  private val Schema = "schema"
  private val PartCols = "partcols"
  private val PartBucket = "partbucket"
  private val Rows = "rows"
  private val CStats = "cstats"
  private val BloomIdx = "bloomidx"
  private val PhysMap = "physmap"
  private val Dropped = "dropped"
  private val Constraint = "constraint"

  private def line(name: String, value: Any): String = s"# $name=$value"

  private def b64(u: UTF8String): String = Base64.getEncoder.encodeToString(u.getBytes)
  private def unb64(s: String): UTF8String = UTF8String.fromBytes(Base64.getDecoder.decode(s))

  private def stampLines(file: String, st: FileStamp): Seq[String] =
    st.rows.map(r => line(Rows, s"$file:$r")).toSeq ++
      st.cols.toSeq.sortBy(_._1).map { case (c, cs) =>
        val (kind, lo, hi) = cs.iv match {
          case Some(LongIv(l, h)) => ("i", l.toString, h.toString)
          case Some(StrIv(l, h))  => ("s", b64(l), b64(h))
          case None               => ("i", "-", "-")
        }
        line(CStats, s"$file:$c:$kind:$lo:$hi:${cs.nulls.fold("-")(_.toString)}")
      }

  /** `(file, rows)` of a `rows=` value; None when malformed. */
  private def rowsOf(body: String): Option[(String, Long)] = {
    val i = body.lastIndexOf(':')
    if (i <= 0) None else body.substring(i + 1).toLongOption.map(body.substring(0, i) -> _)
  }

  /** `(file, col, stamp)` of a `cstats=` value; None when malformed. */
  private def cstatsOf(body: String): Option[(String, String, ColStamp)] =
    body.split(":", 6) match {
      case Array(file, c, kind, lo, hi, n) =>
        try {
          val iv: Option[Iv] =
            if (lo == "-" || hi == "-") None
            else if (kind == "s") Some(StrIv(unb64(lo), unb64(hi)))
            else Some(LongIv(lo.toLong, hi.toLong))
          Some((file, c, ColStamp(iv, if (n == "-") None else Some(n.toLong))))
        } catch {
          case _: NumberFormatException | _: IllegalArgumentException => None
        }
      case _ => None
    }

  /** The manifest of `lines` (one committed `N.manifest`). Single-valued
    * fields take their first line.
    */
  def parse(lines: Seq[String]): Manifest = {
    val files = Seq.newBuilder[String]
    val deletes = Seq.newBuilder[String]
    val tags = Seq.newBuilder[(String, String)]
    val blooms = Seq.newBuilder[String]
    val constraints = Seq.newBuilder[(String, String)]
    val physMap = Map.newBuilder[String, Seq[String]]
    val dropped = Set.newBuilder[String]
    val rows = scala.collection.mutable.Map.empty[String, Long]
    val cols = scala.collection.mutable.Map.empty[String, Map[String, ColStamp]]
    var m = Manifest()
    lines.filter(_.nonEmpty).foreach { line =>
      if (line.startsWith("-")) deletes += line.drop(1)
      else if (!line.startsWith("#")) files += line
      else {
        val meta = line.stripPrefix("#").trim
        val i = meta.indexOf('=')
        val (k, v) = if (i < 0) (meta, "") else (meta.substring(0, i), meta.substring(i + 1))
        k match {
          case Ts => if (m.ts.isEmpty) m = m.copy(ts = v.toLongOption)
          case Op => if (m.op.isEmpty) m = m.copy(op = Some(v))
          case Key => if (m.key.isEmpty) m = m.copy(key = Some(v))
          case Schema => if (m.schema.isEmpty)
            m = m.copy(schema = Some(DataType.fromJson(v).asInstanceOf[StructType]))
          case PartCols => if (m.partCols.isEmpty) m = m.copy(partCols = v.split(",").toSeq)
          case PartBucket => if (m.bucket.isEmpty) {
            val j = v.lastIndexOf(':')
            m = m.copy(bucket = Some((v.substring(0, j), v.substring(j + 1).toInt)))
          }
          case Rows => rowsOf(v).foreach(rows += _)
          case CStats => cstatsOf(v).foreach { case (f, c, cs) =>
            cols(f) = cols.getOrElse(f, Map.empty[String, ColStamp]).updated(c, cs)
          }
          case BloomIdx => blooms += v
          case PhysMap =>
            val parts = v.split(":").toSeq
            physMap += parts.head -> parts.tail
          case Dropped => dropped += v
          case Constraint =>
            val j = v.indexOf(':')
            constraints += v.substring(0, j) -> v.substring(j + 1)
          case _ => tags += k -> v
        }
      }
    }
    val stamps = (rows.keySet ++ cols.keySet).map { f =>
      f -> FileStamp(rows.get(f), cols.getOrElse(f, Map.empty))
    }.toMap
    m.copy(files = files.result(), deletes = deletes.result(), tags = tags.result(),
      blooms = blooms.result(), constraints = constraints.result(),
      physMap = physMap.result(), dropped = dropped.result(), stamps = stamps)
  }
}
