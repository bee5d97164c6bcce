package graft.catalog

import graft.core.TableStore
import graft.core.TableStore.{ColStats, FileEntry}
import org.apache.spark.sql.connector.expressions.{Literal, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.types.{DataType, DateType, StructType, TimestampNTZType, TimestampType}

/** Shared runtime file-pruning machinery for scans implementing
  * `SupportsRuntimeV2Filtering` — used by both the row-level-operation
  * scan (SQL MERGE/UPDATE/DELETE group filtering) and the plain read scan
  * (dynamic fact-file pruning in star joins, the reference's headline
  * partitioned-fact scenario — docs/README.md:326-329). */
object RuntimePruning {

  /** The single column a snapshot's files are best separated on.
    *
    * Exactly ONE attribute is ever advertised: Spark packs multiple
    * filter attributes into a struct-IN that cannot translate to a V2
    * predicate (the runtime filter silently disappears), so we pick the
    * column with the highest fraction of non-overlapping file-range pairs
    * — the clustered/partition column is the only one pruning can win on
    * anyway. None when no column separates files (callers then skip the
    * runtime-filter subquery entirely).
    *
    * Fast path: a declared identity-partition column is perfectly
    * separated by construction (each file carries one exact min=max
    * partition value), so when `partitionBy` is known the O(files²·cols)
    * stat scoring is skipped entirely — on a daily-partitioned fact table
    * (thousands of files, re-planned per query) the scoring loop is
    * planning-time hot, not a one-off. */
  def bestPruningColumn(allFiles: Seq[FileEntry], schema: StructType,
      partitionBy: Seq[String] = Seq.empty): Option[String] = {
    val declared = partitionBy.find(schema.fieldNames.contains)
    if (declared.isDefined) return declared
    val files = if (allFiles.size <= 192) allFiles else allFiles.take(192)
    if (files.size < 2) None
    else {
      val cols = files.flatMap(_.stats.keys).distinct
        .filter(c => schema.fieldNames.contains(c))
      val scored = cols.flatMap { c =>
        val ranges = files.flatMap(_.stats.get(c))
        if (ranges.size < files.size) None // only useful with full stats
        else {
          val pairs = for {
            i <- ranges.indices; j <- (i + 1) until ranges.size
          } yield {
            val (a, b) = (ranges(i), ranges(j))
            val overlap =
              TableStore.cmpStat(a.max, a.kind, b.min).forall(_ >= 0) &&
                TableStore.cmpStat(b.max, b.kind, a.min).forall(_ >= 0)
            if (overlap) 0 else 1
          }
          Some(c -> pairs.sum.toDouble / pairs.size)
        }
      }
      // deterministic: best separation, schema order breaks ties
      scored.filter(_._2 >= 0.5)
        .sortBy { case (c, s) => (-s, schema.fieldIndex(c)) }
        .headOption.map(_._1)
    }
  }

  /** A value as a "string" stat would spell it, when that spelling is
    * exact: strings, integers and booleans as themselves, DATE values
    * (epoch days or date objects) as ISO dates. None for everything else
    * (timestamps, fractional numbers), whose text forms differ between
    * partition paths, Spark casts and `toString`. */
  private def asStatString(v: Any, dataType: Option[DataType]): Option[String] =
    (v, dataType) match {
      case (s: String, _) => Some(s)
      case (d: java.sql.Date, _) => Some(d.toLocalDate.toString)
      case (d: java.time.LocalDate, _) => Some(d.toString)
      case (_, Some(_: TimestampType | _: TimestampNTZType)) => None
      case (n @ (_: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
          _: java.lang.Byte), dt) =>
        val l = n.asInstanceOf[Number].longValue()
        if (dt.contains(DateType)) Some(java.time.LocalDate.ofEpochDay(l).toString)
        else Some(l.toString)
      case (b: java.lang.Boolean, _) => Some(b.toString)
      case _ => None
    }

  /** Extract single-column `IN (values…)` lists from runtime predicates. */
  def inListsOf(predicates: Array[Predicate]): Seq[(String, Seq[Any])] =
    predicates.toSeq.collect {
      case p if p.name() == "IN" && p.children().nonEmpty =>
        p.children().head match {
          case f: NamedReference if f.fieldNames().length == 1 =>
            val vals = p.children().tail.collect {
              case l: Literal[_] => l.value match {
                case u: org.apache.spark.unsafe.types.UTF8String => u.toString
                case other => other
              }
            }.toSeq
            Some(f.fieldNames().head -> vals)
          case _ => None
        }
    }.flatten

  /** Partition `files` into (hit, dropped) for the runtime IN-lists: a
    * file survives only if every list has a value inside the file's
    * min/max range for that column AND (for small lists) its parquet
    * bloom filter does not rule all values out. Conservative on missing
    * stats/blooms — dropping is always exact, never lossy.
    *
    * Driver-side cost discipline: the IN-list is canonicalized ONCE per
    * (column, stat-kind) into a sorted array, so each file pays one parse
    * of its own min/max plus a binary search — the naive formulation was
    * O(files × values) string-parsing compares, which on a
    * daily-partitioned fact snapshot (thousands of files) × a date-dim
    * runtime filter (thousands of surviving day keys) froze planning for
    * seconds per query. Files whose stat is EXACT (min == max — identity
    * partition values, constant columns) are decided by the range probe
    * alone: membership is definitive, so the per-file parquet-footer
    * bloom read is skipped.
    *
    * Values arrive in Spark's internal domain (DATE as epoch-day ints,
    * TIMESTAMP as epoch micros), which is also the domain of footer
    * "long" stats. Against "string" stats (identity-partition values)
    * they are rendered by the column's type in `schema`: DATE as an ISO
    * date, plain strings, integers and booleans as themselves. A value
    * with no exact rendering keeps every file of that kind.
    * [[TableStore.filesHitByKeys]] decides copy-on-write MERGE file hits
    * through this same routine. */
  def pruneByInLists(store: TableStore, table: String, files: Seq[FileEntry],
      inLists: Seq[(String, Seq[Any])], schema: StructType)
      : (Seq[FileEntry], Seq[FileEntry]) = {
    val typeOf = schema.fields.map(f => f.name -> f.dataType).toMap
    val probes = scala.collection.mutable.HashMap.empty[(String, String), AnyRef]
    // "keep" = some literal is uninterpretable in this kind's domain →
    // every file of that kind stays (old cmpStat-None semantics);
    // null = dec<scale> kinds fall back to per-value exact compares.
    def probeFor(c: String, kind: String, vals: Seq[Any]): AnyRef =
      probes.getOrElseUpdate((c, kind), {
        if (kind.startsWith("dec")) null
        else kind match {
          case "long" =>
            val out = Array.newBuilder[Long]
            var keepAll = false
            vals.foreach {
              // decimal literal vs integer stat: scale info was lost
              // upstream — never prune on it (mirrors cmpStat)
              case _: java.math.BigDecimal | _: scala.math.BigDecimal =>
                keepAll = true
              case v =>
                try out += TableStore.toLong(v)
                catch { case _: Exception => keepAll = true }
            }
            if (keepAll) "keep"
            else { val a = out.result(); java.util.Arrays.sort(a); a }
          case "double" =>
            val out = Array.newBuilder[Double]
            var keepAll = false
            vals.foreach { v =>
              try out += TableStore.toDouble(v)
              catch { case _: Exception => keepAll = true }
            }
            if (keepAll) "keep"
            else { val a = out.result(); java.util.Arrays.sort(a); a }
          case _ =>
            val rendered = vals.map(v => asStatString(v, typeOf.get(c)))
            if (rendered.contains(None)) "keep"
            else {
              val a = rendered.flatten.toArray
              java.util.Arrays.sort(a, (x: String, y: String) =>
                TableStore.utf8Cmp(x, y))
              a
            }
        }
      })
    // first sorted element ≥ lo, if any, must be ≤ hi
    def anyLong(a: Array[Long], lo: Long, hi: Long): Boolean = {
      var l = 0; var r = a.length
      while (l < r) { val m = (l + r) >>> 1; if (a(m) < lo) l = m + 1 else r = m }
      l < a.length && a(l) <= hi
    }
    def anyDouble(a: Array[Double], lo: Double, hi: Double): Boolean = {
      var l = 0; var r = a.length
      while (l < r) { val m = (l + r) >>> 1; if (a(m) < lo) l = m + 1 else r = m }
      l < a.length && a(l) <= hi
    }
    def anyStr(a: Array[String], lo: String, hi: String): Boolean = {
      var l = 0; var r = a.length
      while (l < r) {
        val m = (l + r) >>> 1
        if (TableStore.utf8Cmp(a(m), lo) < 0) l = m + 1 else r = m
      }
      l < a.length && TableStore.utf8Cmp(a(l), hi) <= 0
    }
    files.partition { fe =>
      inLists.forall { case (c, vals) =>
        fe.stats.get(c) match {
          case None => true
          case Some(s: ColStats) =>
            def bloomOk: Boolean =
              s.min == s.max || vals.size > store.bloomMaxKeys ||
                store.bloomMayContain(table, fe, c, vals)
            probeFor(c, s.kind, vals) match {
              case "keep" => true
              case null => // dec<scale>: exact decimal compares per value
                val rangeHit = vals.exists(v =>
                  TableStore.cmpStat(s.min, s.kind, v).forall(_ <= 0) &&
                    TableStore.cmpStat(s.max, s.kind, v).forall(_ >= 0))
                rangeHit && bloomOk
              case a: Array[Long] =>
                val hit =
                  try anyLong(a, s.min.toLong, s.max.toLong)
                  catch { case _: Exception => true } // unparseable stat: keep
                hit && bloomOk
              case a: Array[Double] =>
                val hit =
                  try anyDouble(a, s.min.toDouble, s.max.toDouble)
                  catch { case _: Exception => true }
                hit && bloomOk
              case a: Array[String] => anyStr(a, s.min, s.max) && bloomOk
            }
        }
      }
    }
  }
}
