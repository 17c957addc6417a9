package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualNullSafe, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal, Not, Or, StartsWith}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graftshim.CatalystBridge
import org.apache.spark.sql.types.{ByteType, DateType, IntegerType, LongType, ShortType, StringType, StructType, TimestampNTZType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String
import graft.sources.Stamps.{ColStamp, FileStamp, LongIv, StrIv}

/** Planning-time FILE SKIPPING for snapshot-log reads — the missing half
  * of the manifest stamps (typed `# cstats=` column statistics, stamped
  * by every committing op in [[graft.operators.SnapshotLog]]). The
  * stamps already plan WRITES (CoW merge footprints, point lookups, CDC
  * B-parts); this class hands the same metadata to Spark's scan planner
  * so plain READS skip too: `SELECT ... FROM graft.t WHERE key < 10` —
  * or `WHERE category = 'news'`, or `WHERE ts >= timestamp'...'`, or
  * `WHERE c IS NULL` — opens only the data files whose stamped statistics admit the
  * predicate, at manifest cost, before a single footer is fetched.
  *
  * This is the standard lakehouse data-skipping seam (Delta's
  * `TahoeFileIndex`, Iceberg's manifest evaluator): a custom
  * [[FileIndex]] whose `listFiles(partitionFilters, dataFilters)` —
  * called by `FileSourceStrategy` with the query's pushed data filters —
  * answers from per-file stats instead of a directory listing. Parquet
  * row-group pruning does the same work AFTER opening a file; at 100 TB
  * (10^5 files) the open-and-read-footer per file is itself the
  * bottleneck for selective queries, and this removes it: a range query
  * on a clustered table plans to ~1 file from ONE metadata read.
  * Non-selective scans are unchanged — `listFiles` with no usable stats
  * predicate returns every file, same plan as before.
  *
  * Pruning is tri-state logic over [[Stamps.FileStamp]]s, with the
  * SQL-three-valued-logic fine print handled where it bites:
  *
  *  - verdict Some(true) = the predicate is TRUE on every row of the
  *    file; Some(false) = TRUE on NO row (false or NULL everywhere —
  *    the skip condition); None = unknown. `And`/`Or` compose by
  *    Kleene logic under exactly these meanings.
  *  - NEGATION IS STRUCTURAL, never a verdict flip: `Not` pushes down
  *    as a polarity flag and every atom implements its own negated
  *    three-valued semantics. A verdict flip is unsound here — e.g.
  *    `col <=> v` is FALSE (not NULL) on a null row, so "true for every
  *    in-range value" does NOT negate to "true for no row" when the
  *    file also holds nulls, which min/max stamps cannot see. The null
  *    COUNTS carried by `cstats=` stamps make those verdicts definite
  *    again where the file provably has no nulls (or is all-null).
  *  - `IS NULL` / `IS NOT NULL` prune from null counts + row counts
  *    alone — no interval required.
  *  - every "TRUE on every row" claim for a null-strict predicate
  *    (comparisons, IN, LIKE-prefix) additionally requires a zero null
  *    count: a null row makes the predicate NULL, not TRUE. The skip
  *    side (Some(false)) needs no null knowledge for those atoms — a
  *    null row is never TRUE — so legacy null-blind stamps keep their
  *    full pruning power.
  *
  * Columns without a stamp for a file — and whole files without stamps
  * (raw `commit()` manifests, pre-stamp history) — never contribute a
  * verdict. After a z-ordered OPTIMIZE, every Morton dimension carries
  * stamps, so a filter on any one of them skips — the actual payoff of
  * Z-ordering, now at the planning seam rather than the footer.
  *
  * The scan this index backs is the SAME physical parquet scan
  * `spark.read.parquet(files)` builds — `HadoopFsRelation` + vectorized
  * `ParquetFileFormat`, explicit data schema (so evolved tables read old
  * files through the wider stamped schema, absent columns null) — only
  * the file-listing seam differs. Column pruning, filter pushdown to
  * row groups and whole-stage codegen all apply unchanged;
  * SnapshotSkipSpec pins both the plan facts and end-to-end equality
  * with the unpruned read.
  */
final class SnapshotFileIndex(
    table: Path,
    files: Seq[(String, FileStatus)], // (manifest name, status)
    stamps: Map[String, FileStamp],
    resolve: (String, String) => Boolean,
    partSchema: StructType = StructType(Nil),
    partValues: Map[String, InternalRow] = Map.empty,
    bloom: Option[SnapshotFileIndex.BloomProbe] = None,
    bucketLayout: Option[SnapshotFileIndex.BucketProbe] = None) extends FileIndex {

  override def rootPaths: Seq[Path] = Seq(table)

  override def partitionSchema: StructType = partSchema

  override def inputFiles: Array[String] = files.map(_._2.getPath.toString).toArray

  override def refresh(): Unit = ()

  override lazy val sizeInBytes: Long = files.map(_._2.getLen).sum

  // loaded once per scan, and ONLY if a probeable point predicate on the
  // key actually reaches prunedFiles — a full scan never pays for it
  private lazy val loadedBlooms: Map[String, org.apache.spark.util.sketch.BloomFilter] =
    bloom.map(_.load()).getOrElse(Map.empty)

  /** Non-null key values a conjunct pins the key to, hashed in the
    * sidecar's convention (xxhash64 over the key's own type — a
    * type-mismatched literal is NOT probeable: its hash differs).
    */
  private def pointHashes(dataFilters: Seq[Expression]): Option[Array[Long]] = {
    val p = bloom.getOrElse(return None)
    def isKey(e: Expression): Boolean = e match {
      case a: Attribute => resolve(a.name, p.keyCol)
      case _            => false
    }
    def hashOf(l: Expression): Option[Long] = l match {
      case lit @ Literal(v, t) if v != null && t == p.keyType =>
        Some(new org.apache.spark.sql.catalyst.expressions.XxHash64(Seq(lit))
          .eval(InternalRow.empty).asInstanceOf[Long])
      case _ => None
    }
    dataFilters.iterator.map {
      case EqualTo(a, l) if isKey(a)       => hashOf(l).map(Array(_))
      case EqualTo(l, a) if isKey(a)       => hashOf(l).map(Array(_))
      case EqualNullSafe(a, l) if isKey(a) => hashOf(l).map(Array(_))
      case EqualNullSafe(l, a) if isKey(a) => hashOf(l).map(Array(_))
      case In(a, vs) if isKey(a) && vs.nonEmpty =>
        val hs = vs.flatMap(hashOf)
        if (hs.length == vs.length) Some(hs.toArray) else None
      case _ => None
    }.collectFirst { case Some(hs) => hs }
  }

  private def pointBuckets(dataFilters: Seq[Expression]): Option[Set[Int]] = {
    val p = bucketLayout.getOrElse(return None)
    SnapshotFileIndex.pointBuckets(dataFilters, p.col, p.colType, p.n, resolve)
  }

  /** Files surviving the data filters — the skipping decision: stamp
    * verdicts first (intervals + null counts), then hash-bucket
    * directory pruning (exact, from layout), then per-file Bloom
    * verdicts for point predicates on the key — the two hash-key paths
    * where intervals cannot help.
    */
  def prunedFiles(dataFilters: Seq[Expression]): Seq[(String, FileStatus)] = {
    val base = files.filter { case (name, _) =>
      stamps.get(name) match {
        case Some(fs) if fs.nonEmpty =>
          !dataFilters.exists(f =>
            SnapshotFileIndex.evalOnStamps(f, fs, resolve).contains(false))
        case _ => true
      }
    }
    val bucketed = pointBuckets(dataFilters) match {
      case Some(bs) =>
        base.filter { case (name, _) =>
          // a file without a bucket directory (pre-bucket history) is
          // always a candidate — pruning stays conservative
          bucketLayout.get.bucketOf.get(name).forall(bs.contains)
        }
      case _ => base
    }
    pointHashes(dataFilters) match {
      case Some(hs) if hs.nonEmpty =>
        bucketed.filter { case (name, _) =>
          loadedBlooms.get(name) match {
            case Some(bf) => hs.exists(bf.mightContainLong)
            case None     => true // not covered by any sidecar: candidate
          }
        }
      case _ => bucketed
    }
  }

  /** On a PARTITIONED table the surviving files group into one
    * [[PartitionDirectory]] per partition-value tuple, so Spark's scan
    * sees real Hive-style partitions: static partition predicates arrive
    * here as `partitionFilters` (evaluated against the value rows —
    * metadata, no file touched), and DYNAMIC partition pruning filters
    * the same value rows inside `FileSourceScanExec` at runtime — both
    * standard because the values are declared, not inferred. Data
    * filters still prune per file via stamps, inside each partition.
    */
  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val kept = prunedFiles(dataFilters)
    if (partSchema.isEmpty)
      return Seq(PartitionDirectory(InternalRow.empty, kept.map(_._2).toArray))
    val groups = kept.groupBy { case (name, _) =>
      partValues.getOrElse(name, InternalRow.empty)
    }
    val dirs = groups.toSeq.map { case (values, fs) =>
      PartitionDirectory(values, fs.map(_._2).toArray)
    }
    if (partitionFilters.isEmpty) dirs
    else {
      import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BoundReference, Predicate}
      // a filter referencing an attribute that doesn't resolve against
      // the partition schema (e.g. a metadata column Spark routes here)
      // is SKIPPED, never thrown on: pruning must only ever be
      // conservative — the dropped filter still runs row-level
      val bindable = partitionFilters.filter(f =>
        f.references.forall(a =>
          partSchema.fields.exists(x => resolve(x.name, a.name))))
      if (bindable.isEmpty) dirs
      else {
        val bound = Predicate.createInterpreted(
          bindable.reduce(And).transform {
            case a: AttributeReference =>
              val i = partSchema.fields.indexWhere(f => resolve(f.name, a.name))
              BoundReference(i, partSchema.fields(i).dataType, nullable = true)
          })
        dirs.filter(d => bound.eval(d.values))
      }
    }
  }
}

object SnapshotFileIndex {

  /** Lazy per-file Bloom verdict source for point predicates on the
    * table key: `load()` yields manifest name -> DESERIALIZED filter
    * (one sidecar read + one deserialization, both process-cached
    * upstream and paid only when a probeable predicate reaches the
    * index; mightContain is read-only, so sharing across plans is
    * safe). `keyType` gates hash compatibility — xxhash64 is
    * type-sensitive, so only a literal of exactly the key's type probes.
    */
  final case class BloomProbe(keyCol: String,
      keyType: org.apache.spark.sql.types.DataType,
      load: () => Map[String, org.apache.spark.util.sketch.BloomFilter])

  /** Hash-bucket layout spec for EXACT directory pruning of point
    * predicates on the bucketed column: `bucketOf` maps each manifest
    * name to its directory's bucket (absent = flat file, never pruned);
    * the probe recomputes `pmod(xxhash64(literal), n)` — the write-side
    * function — at planning time. `colType` gates hash compatibility
    * exactly like [[BloomProbe.keyType]].
    */
  final case class BucketProbe(col: String,
      colType: org.apache.spark.sql.types.DataType, n: Int,
      bucketOf: Map[String, Int])

  /** Bucket directories a point predicate on the bucketed column pins —
    * the LAYOUT analogue of the Bloom probe, exact rather than
    * probabilistic. Shared by the read-side FileIndex and the write-side
    * footprint selection ([[graft.operators.SnapshotLog.optimize]]'s WHERE),
    * so `filters` may arrive as un-split conjunct trees (parsed
    * predicates) — conjunctions are split here. Hashing MUST run over
    * the column's own type (xxhash64 is type-sensitive): a literal of a
    * narrower integral type is retyped when the value converts
    * losslessly, anything else refuses to prune.
    */
  private[graft] def pointBuckets(filters: Seq[Expression], colName: String,
      colType: org.apache.spark.sql.types.DataType, n: Int,
      resolve: (String, String) => Boolean): Option[Set[Int]] = {
    def split(e: Expression): Seq[Expression] = e match {
      case And(l, r) => split(l) ++ split(r)
      case x         => Seq(x)
    }
    def isCol(e: Expression): Boolean = e match {
      case a: Attribute => resolve(a.name, colName)
      case _            => false
    }
    def retyped(l: Expression): Option[Literal] = l match {
      case lit @ Literal(v, t) if v != null =>
        if (t == colType) Some(lit)
        else (t, colType) match { // lossless integral widening only
          case (IntegerType, LongType) =>
            Some(Literal(v.asInstanceOf[Int].toLong, LongType))
          case (ShortType, LongType) =>
            Some(Literal(v.asInstanceOf[Short].toLong, LongType))
          case (ByteType, LongType) =>
            Some(Literal(v.asInstanceOf[Byte].toLong, LongType))
          case (ShortType, IntegerType) =>
            Some(Literal(v.asInstanceOf[Short].toInt, IntegerType))
          case (ByteType, IntegerType) =>
            Some(Literal(v.asInstanceOf[Byte].toInt, IntegerType))
          case _ => None
        }
      case _ => None
    }
    def bucketOfLit(l: Expression): Option[Int] = retyped(l).map { lit =>
      val h = new org.apache.spark.sql.catalyst.expressions.XxHash64(Seq(lit))
        .eval(InternalRow.empty).asInstanceOf[Long]
      val m = h % n
      (if (m < 0) m + n else m).toInt
    }
    filters.flatMap(split).iterator.map {
      case EqualTo(a, l) if isCol(a)       => bucketOfLit(l).map(Set(_))
      case EqualTo(l, a) if isCol(a)       => bucketOfLit(l).map(Set(_))
      case EqualNullSafe(a, l) if isCol(a) => bucketOfLit(l).map(Set(_))
      case EqualNullSafe(l, a) if isCol(a) => bucketOfLit(l).map(Set(_))
      case In(a, vs) if isCol(a) && vs.nonEmpty =>
        val bs = vs.flatMap(bucketOfLit)
        if (bs.length == vs.length) Some(bs.toSet) else None
      case _ => None
    }.collectFirst { case Some(bs) => bs }
  }

  /** Tri-state evaluation of `e` against one file's stamps: Some(true) =
    * TRUE for EVERY row of the file, Some(false) = TRUE for NO row (the
    * sound skip condition under SQL's 3-valued WHERE), None = mixed or
    * unsupported. See the class doc for the negation and null fine
    * print.
    */
  private[graft] def evalOnStamps(e: Expression, fs: FileStamp,
      resolve: (String, String) => Boolean): Option[Boolean] = {

    def stampOf(x: Expression): Option[ColStamp] = x match {
      case a: Attribute =>
        fs.cols.collectFirst { case (c, s) if resolve(a.name, c) => s }
      case _ => None
    }
    def noNulls(s: ColStamp): Boolean = s.nulls.contains(0L)
    def allNull(s: ColStamp): Boolean =
      (for (n <- s.nulls; r <- fs.rows) yield n == r && r > 0L).getOrElse(false)

    def isNullLit(x: Expression): Boolean = x match {
      case Literal(null, _) => true
      case _                => false
    }

    /** Literal value in the stamp's own encoding, when kinds agree. */
    def longOf(x: Expression): Option[Long] = x match {
      case Literal(v, LongType) if v != null      => Some(v.asInstanceOf[Long])
      case Literal(v, IntegerType) if v != null   => Some(v.asInstanceOf[Int].toLong)
      case Literal(v, ShortType) if v != null     => Some(v.asInstanceOf[Short].toLong)
      case Literal(v, ByteType) if v != null      => Some(v.asInstanceOf[Byte].toLong)
      case Literal(v, DateType) if v != null      => Some(v.asInstanceOf[Int].toLong)
      case Literal(v, TimestampType) if v != null => Some(v.asInstanceOf[Long])
      case Literal(v, TimestampNTZType) if v != null => Some(v.asInstanceOf[Long])
      case _ => None
    }
    def strOf(x: Expression): Option[UTF8String] = x match {
      case Literal(u: UTF8String, StringType) => Some(u)
      case _                                  => None
    }

    /** (sign(v - lo), sign(v - hi), lo == hi) of a literal against the
      * stamp's interval — the whole comparison algebra reduces to this.
      */
    def rel(s: ColStamp, lit: Expression): Option[(Int, Int, Boolean)] =
      s.iv.flatMap {
        case LongIv(lo, hi) => longOf(lit).map(v =>
          (java.lang.Long.compare(v, lo), java.lang.Long.compare(v, hi), lo == hi))
        case StrIv(lo, hi) => strOf(lit).map(u =>
          (Integer.signum(u.compareTo(lo)), Integer.signum(u.compareTo(hi)), lo.equals(hi)))
      }

    def verdict(fAll: Boolean, tAll: Boolean): Option[Boolean] =
      if (fAll) Some(false) else if (tAll) Some(true) else None

    // ---- comparison atoms, with 3VL-exact negation ------------------
    // opCode: 0 '=', 1 '<', 2 '<=', 3 '>', 4 '>='. Negating a comparison
    // flips the operator EXACTLY in 3VL (both sides are NULL on the same
    // rows), so neg dispatches to the flipped positive form; only '='
    // needs its own negated truth table (there is no builtin '!=' node).
    def cmpAtom(col: Expression, lit: Expression, opCode: Int,
        neg: Boolean): Option[Boolean] = {
      if (isNullLit(lit))
        // col <op> NULL is NULL on every row; so is its negation:
        // TRUE on no row either way
        return Some(false)
      val s = stampOf(col).getOrElse(return None)
      val op = if (!neg) opCode else opCode match {
        case 1 => 4 case 2 => 3 case 3 => 2 case 4 => 1 case other => other
      }
      if (allNull(s)) return Some(false) // null-strict: never TRUE
      val (cLo, cHi, singleton) = rel(s, lit).getOrElse(return None)
      val outside = cLo < 0 || cHi > 0
      op match {
        case 0 =>
          if (!neg) verdict(fAll = outside, tAll = singleton && cLo == 0 && noNulls(s))
          else verdict(fAll = singleton && cLo == 0, tAll = outside && noNulls(s))
        case 1 => verdict(fAll = cLo <= 0, tAll = cHi > 0 && noNulls(s))  // col < v
        case 2 => verdict(fAll = cLo < 0, tAll = cHi >= 0 && noNulls(s))  // col <= v
        case 3 => verdict(fAll = cHi >= 0, tAll = cLo < 0 && noNulls(s))  // col > v
        case 4 => verdict(fAll = cHi > 0, tAll = cLo <= 0 && noNulls(s))  // col >= v
        case _ => None
      }
    }

    /** `col <=> v`: FALSE — never NULL — on a null row, which is exactly
      * why it cannot share '='s table: the null rows land on the FALSE
      * side positively and on the TRUE side under negation.
      */
    def nsEqAtom(col: Expression, lit: Expression, neg: Boolean): Option[Boolean] = {
      val s = stampOf(col).getOrElse(return None)
      if (isNullLit(lit)) // col <=> NULL is IS NULL / negated IS NOT NULL
        return nullAtom(col, wantNull = !neg)
      if (allNull(s)) return Some(!neg == false) // all rows FALSE / negated TRUE
      val (cLo, cHi, singleton) = rel(s, lit).getOrElse(return None)
      val outside = cLo < 0 || cHi > 0
      if (!neg) verdict(fAll = outside, tAll = singleton && cLo == 0 && noNulls(s))
      else verdict(fAll = singleton && cLo == 0 && noNulls(s), tAll = outside)
    }

    /** IS NULL (wantNull) / IS NOT NULL (!wantNull) — null + row counts
      * only; no interval needed (an all-null column HAS no interval).
      */
    def nullAtom(col: Expression, wantNull: Boolean): Option[Boolean] = {
      val s = stampOf(col).getOrElse(return None)
      if (wantNull) verdict(fAll = noNulls(s), tAll = allNull(s))
      else verdict(fAll = allNull(s), tAll = noNulls(s))
    }

    def inAtom(col: Expression, members: Seq[Expression], neg: Boolean): Option[Boolean] = {
      val s = stampOf(col).getOrElse(return None)
      if (allNull(s)) return Some(false) // IN and NOT IN are both un-TRUE on null
      val anyNullMember = members.exists(isNullLit)
      if (neg && anyNullMember)
        // NOT IN with a NULL member: FALSE where some member matches,
        // NULL everywhere else — TRUE on no row
        return Some(false)
      val rels = members.filterNot(isNullLit).map(rel(s, _))
      val known = rels.flatten
      val allKnown = rels.forall(_.nonEmpty)
      val anyInRange = known.exists { case (cLo, cHi, _) => cLo >= 0 && cHi <= 0 }
      val singletonHit = known.exists { case (cLo, _, singleton) => singleton && cLo == 0 }
      if (!neg) verdict(
        fAll = allKnown && !anyNullMember && !anyInRange,
        tAll = singletonHit && noNulls(s))
      else verdict(
        fAll = singletonHit,
        tAll = allKnown && !anyInRange && noNulls(s))
    }

    /** LIKE 'p%' — [lo, hi] vs the prefix under binary order: every
      * value prefixed by p sits in [p, p·∞), so a range strictly below p
      * or strictly above all p-prefixed strings excludes the file.
      */
    def startsAtom(col: Expression, lit: Expression, neg: Boolean): Option[Boolean] = {
      if (isNullLit(lit)) return Some(false)
      val s = stampOf(col).getOrElse(return None)
      if (allNull(s)) return Some(false)
      val p = strOf(lit).getOrElse(return None)
      s.iv match {
        case Some(StrIv(lo, hi)) =>
          val below = hi.compareTo(p) < 0
          val above = lo.compareTo(p) > 0 && !lo.startsWith(p)
          val allPrefixed = lo.startsWith(p) && hi.startsWith(p)
          if (!neg) verdict(fAll = below || above, tAll = allPrefixed && noNulls(s))
          else verdict(fAll = allPrefixed, tAll = (below || above) && noNulls(s))
        case _ => None
      }
    }

    def setMembers(vs: Set[Any]): Seq[Expression] = vs.toSeq.map {
      case v: java.lang.Long    => Literal(v.longValue, LongType)
      case v: java.lang.Integer => Literal(v.intValue, IntegerType)
      case u: UTF8String        => Literal(u, StringType)
      case null                 => Literal(null, org.apache.spark.sql.types.NullType)
      case other                => Literal.fromObject(other) // unknown kind -> rel None
    }

    // `neg` = evaluate NOT(x): De Morgan through the connectives,
    // atom-exact 3VL negation at the leaves.
    def ev(x: Expression, neg: Boolean): Option[Boolean] = x match {
      case Literal(b: Boolean, _) => Some(b ^ neg)
      case Not(c)                 => ev(c, !neg)
      case And(l, r) if !neg => (ev(l, false), ev(r, false)) match {
        case (Some(false), _) | (_, Some(false)) => Some(false)
        case (Some(true), Some(true))            => Some(true)
        case _                                   => None
      }
      case And(l, r) => ev(Or(Not(l), Not(r)), neg = false)
      case Or(l, r) if !neg => (ev(l, false), ev(r, false)) match {
        case (Some(true), _) | (_, Some(true)) => Some(true)
        case (Some(false), Some(false))        => Some(false)
        case _                                 => None
      }
      case Or(l, r) => ev(And(Not(l), Not(r)), neg = false)

      case EqualTo(a, b) =>
        if (stampOf(a).nonEmpty || isNullLit(b)) cmpAtom(a, b, 0, neg)
        else cmpAtom(b, a, 0, neg)
      case EqualNullSafe(a, b) =>
        if (stampOf(a).nonEmpty || isNullLit(b)) nsEqAtom(a, b, neg)
        else nsEqAtom(b, a, neg)
      // mirrored operand order flips the operator, independent of neg
      case LessThan(a, b) =>
        if (stampOf(a).nonEmpty || isNullLit(b)) cmpAtom(a, b, 1, neg)
        else cmpAtom(b, a, 3, neg)
      case LessThanOrEqual(a, b) =>
        if (stampOf(a).nonEmpty || isNullLit(b)) cmpAtom(a, b, 2, neg)
        else cmpAtom(b, a, 4, neg)
      case GreaterThan(a, b) =>
        if (stampOf(a).nonEmpty || isNullLit(b)) cmpAtom(a, b, 3, neg)
        else cmpAtom(b, a, 1, neg)
      case GreaterThanOrEqual(a, b) =>
        if (stampOf(a).nonEmpty || isNullLit(b)) cmpAtom(a, b, 4, neg)
        else cmpAtom(b, a, 2, neg)

      case IsNull(c)    => nullAtom(c, wantNull = !neg)
      case IsNotNull(c) => nullAtom(c, wantNull = neg)

      case In(a, vs) if vs.nonEmpty    => inAtom(a, vs, neg)
      case InSet(a, vs) if vs.nonEmpty => inAtom(a, setMembers(vs), neg)

      case StartsWith(a, p) => startsAtom(a, p, neg)

      case _ => None
    }
    ev(e, neg = false)
  }

  /** Force every field nullable, recursively — what `DataFrameReader
    * .schema()` does before reading (`asNullable`): a file that predates
    * a stamped column must read it as null, and a non-nullable stamped
    * field would instead make the vectorized reader fabricate defaults.
    */
  private def nullable(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType =
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = nullable(f.dataType), nullable = true)))
      case a: org.apache.spark.sql.types.ArrayType =>
        a.copy(elementType = nullable(a.elementType), containsNull = true)
      case m: org.apache.spark.sql.types.MapType =>
        m.copy(valueType = nullable(m.valueType), valueContainsNull = true)
      case other => other
    }

  /** The pruned-scan DataFrame over `files` of a snapshot version: the
    * physical plan `spark.read.schema(schema).parquet(files)` would
    * build, with this index at the file-listing seam. `stamps` maps
    * MANIFEST NAME -> per-column statistics; files or columns absent
    * from it never skip.
    *
    * For a PARTITIONED table (`partCols` non-empty), `partValues` gives
    * each file's partition-value row and the relation declares the
    * partition schema, enabling static pruning + DPP. Partition columns
    * are ALSO physically present in the data files (the snapshot log
    * stages them with duplicated `__p_` directory columns precisely so
    * every file stays self-contained for CoW planning); the relation
    * serves them from directory metadata — Spark drops the overlap from
    * the read schema — and a final projection restores the logical
    * column order.
    */
  def scan(spark: SparkSession, table: Path, files: Seq[(String, FileStatus)],
      stamps: Map[String, FileStamp],
      schema: StructType,
      partCols: Seq[String] = Nil,
      partValues: Map[String, InternalRow] = Map.empty,
      bloom: Option[BloomProbe] = None,
      bucketLayout: Option[BucketProbe] = None): DataFrame = {
    val resolver: (String, String) => Boolean =
      spark.sessionState.conf.resolver
    val partSchema = StructType(partCols.map(c => schema(c)).toArray)
    val index = new SnapshotFileIndex(table, files, stamps, resolver,
      nullable(partSchema).asInstanceOf[StructType], partValues, bloom,
      bucketLayout)
    val dataSchema = StructType(
      schema.fields.filterNot(f => partCols.exists(resolver(_, f.name))))
    val relation = HadoopFsRelation(
      location = index,
      partitionSchema = nullable(partSchema).asInstanceOf[StructType],
      dataSchema = nullable(dataSchema).asInstanceOf[StructType],
      bucketSpec = None,
      fileFormat = new ParquetFileFormat,
      options = Map.empty)(spark)
    val df = CatalystBridge.ofRows(spark,
      LogicalRelation(relation, isStreaming = false))
    if (partCols.isEmpty) df
    else df.select(schema.fieldNames.map(org.apache.spark.sql.functions.col).toSeq: _*)
  }
}
