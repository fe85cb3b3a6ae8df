package graft.io

import org.json4s._
import org.json4s.jackson.JsonMethods

/** One commit record of a table log (`<root>/log/vNNNNN.json`) — the ONE
  * definition of the record format.  Every writer builds a `Record` and
  * publishes its [[encode]]; every reader [[Record.decode]]s the file
  * once per version ([[Versioned.record]]) and reads the fields it needs.
  *
  * The JSON shape (field names, field order, value encodings) is the
  * one the log has always had, so every existing log reads through
  * [[Record.decode]] and re-encodes byte for byte:
  *
  * {{{
  *   {"version":12,"dirs":["data/<uuid>",...],"ts":<epochMs>,"op":"append",
  *    "statsCol":"id","stats":{"<dir>":[lo,hi],...},
  *    "statsCols":"a,b","mstats":{"<col>|<dir>":[lo,hi],...},
  *    "rows":{"<dir>":n,...},"bytes":{"<dir>":n,...},
  *    "sumCol":"m","sums":{"<dir>":s,...},"sumsVoid":"<dir>,<dir>",
  *    "bloomCol":"k","bloomBits":65536,"bloom":{"<dir>":"<base64>",...},
  *    "alters":{"<col>|<type>":"<dir>,<dir>",...},
  *    "checks":{"<name>":"<sql>",...},"policy":{"smallRows":0,...},
  *    "dv":{"<dir>":"<side>,<side>",...},"dvRows":{"<dir>":n,...},
  *    "batchId":7,"pins":{"<table>":v,...},"rebaseSnap":true}
  * }}}
  *
  * Absent fields are omitted.  Per-dir entries are written for the
  * record's own `dirs`, in manifest order (entries of dirs outside the
  * manifest are dropped — a rewrite retires them with the dir).  Strings
  * are JSON-escaped, so names and CHECK expressions may hold quotes and
  * braces; only the compound encodings above keep their delimiters
  * (`|`, `,` and the rename arrow `>` in column names).
  *
  * `alters` events are `(column, type, dirs)` in commit order: `type` is
  * an SQL type (the column was added and `dirs` null-fill it), `#drop`,
  * or `#rename` with column `old>new`.  `pins` is the [[TxnCatalog]]
  * record's table → version map; `rebaseSnap` stamps the two publishes
  * of a [[Branches.rebase]]. */
private[io] final case class Record(
    version: Int,
    dirs: Seq[String],
    ts: Long,
    op: Option[String] = None,
    statsCol: Option[String] = None,
    stats: Map[String, (Long, Long)] = Map.empty,
    statsCols: Seq[String] = Seq.empty,
    mstats: Map[(String, String), (Long, Long)] = Map.empty,
    rows: Option[Map[String, Long]] = None,
    bytes: Option[Map[String, Long]] = None,
    sumCol: Option[String] = None,
    sums: Map[String, Long] = Map.empty,
    sumsVoid: Set[String] = Set.empty,
    bloomCol: Option[(String, Int)] = None,
    bloom: Map[String, String] = Map.empty,
    alters: Seq[Record.Alter] = Seq.empty,
    checks: Seq[(String, String)] = Seq.empty,
    policy: Option[Versioned.MaintenancePolicy] = None,
    dv: Map[String, Seq[String]] = Map.empty,
    dvRows: Map[String, Long] = Map.empty,
    batchId: Option[Long] = None,
    pins: Map[String, Int] = Map.empty,
    rebaseSnap: Boolean = false) {

  def encode: String = {
    def perDir[A](m: Map[String, A])(f: A => JValue): JValue =
      JObject(dirs.flatMap(d => m.get(d).map(a => d -> f(a))).toList)
    def range(e: (Long, Long)): JValue = JArray(List(JLong(e._1), JLong(e._2)))
    def opt(cond: Boolean)(fs: => List[JField]): List[JField] = if (cond) fs else Nil
    val dvDirs = dirs.filter(dv.contains)
    val void = dirs.filter(sumsVoid).sorted
    val fields: List[JField] =
      List("version" -> JInt(version), "dirs" -> JArray(dirs.map(JString(_)).toList),
        "ts" -> JLong(ts)) ++
      op.map(o => "op" -> JString(o)) ++
      statsCol.toList.flatMap(c =>
        List("statsCol" -> JString(c), "stats" -> perDir(stats)(range))) ++
      opt(statsCols.nonEmpty)(List("statsCols" -> JString(statsCols.mkString(",")),
        "mstats" -> JObject((for {
          c <- statsCols; d <- dirs; e <- mstats.get((c, d))
        } yield s"$c|$d" -> range(e)).toList))) ++
      rows.map(m => "rows" -> perDir(m)(JLong(_))) ++
      bytes.map(m => "bytes" -> perDir(m)(JLong(_))) ++
      sumCol.toList.flatMap(c =>
        List("sumCol" -> JString(c), "sums" -> perDir(sums)(JLong(_))) ++
          opt(void.nonEmpty)(List("sumsVoid" -> JString(void.mkString(","))))) ++
      bloomCol.toList.flatMap { case (c, bits) =>
        List("bloomCol" -> JString(c), "bloomBits" -> JInt(bits),
          "bloom" -> perDir(bloom)(JString(_))) } ++
      opt(alters.nonEmpty)(List("alters" -> JObject(alters.map { case (c, t, ds) =>
        s"$c|$t" -> JString(ds.mkString(",")) }.toList))) ++
      opt(checks.nonEmpty)(List("checks" -> JObject(checks.map { case (n, e) =>
        n -> JString(e) }.toList))) ++
      policy.map(p => "policy" -> JObject(List(
        "smallRows" -> JLong(p.smallRows), "targetRows" -> JLong(p.targetRows),
        "buckets" -> JInt(p.buckets), "maxCover" -> JInt(p.maxCover),
        "maxDvFraction" -> JDouble(p.maxDvFraction)))) ++
      opt(dvDirs.nonEmpty)(List(
        "dv" -> JObject(dvDirs.map(d => d -> JString(dv(d).mkString(","))).toList),
        "dvRows" -> JObject(dvDirs.map(d => d -> JLong(dvRows.getOrElse(d, 0L))).toList))) ++
      batchId.map(b => "batchId" -> JLong(b)) ++
      opt(pins.nonEmpty)(List("pins" -> JObject(pins.toList.sortBy(_._1).map {
        case (n, v) => n -> JInt(v) }))) ++
      opt(rebaseSnap)(List("rebaseSnap" -> JBool(true)))
    JsonMethods.compact(JObject(fields))
  }

  /** This record as a SNAPSHOT REPLAY (restore, shallow clone, branch
    * snapshot merge and rebase): the same manifest and carried fields —
    * stats, rows, bytes, sums, blooms, alters, checks, deletion vectors —
    * with every dir name passed through `dir` and every deletion-vector
    * sidecar through `side`.  The per-commit stamps (ts, op, policy,
    * batchId) are not carried; the caller sets its own. */
  def replayed(dir: String => String = identity,
      side: String => String = identity): Record = {
    def keys[A](m: Map[String, A]): Map[String, A] = m.map { case (d, a) => dir(d) -> a }
    Record(version, dirs.map(dir), ts,
      statsCol = statsCol, stats = keys(stats),
      statsCols = statsCols,
      mstats = mstats.map { case ((c, d), e) => (c, dir(d)) -> e },
      rows = rows.map(keys), bytes = bytes.map(keys),
      sumCol = sumCol, sums = keys(sums), sumsVoid = sumsVoid.map(dir),
      bloomCol = bloomCol, bloom = keys(bloom),
      alters = alters.map { case (c, t, ds) => (c, t, ds.map(dir).sorted) },
      checks = checks,
      dv = dv.map { case (d, s) => dir(d) -> s.map(side) }, dvRows = keys(dvRows))
  }
}

private[io] object Record {

  /** A schema-evolution event: (column, SQL type | `#drop` | `#rename`,
    * the dirs it applies to). */
  type Alter = (String, String, Seq[String])

  /** Version 0: the canonical empty table. */
  val empty: Record = Record(0, Seq.empty, 0L)

  def decode(txt: String): Record = {
    val fields: Map[String, JValue] = JsonMethods.parse(txt) match {
      case JObject(fs) => fs.toMap
      case _ => throw new IllegalStateException("malformed commit record")
    }
    def num(j: JValue): Long = j match {
      case JInt(n)     => n.toLong
      case JLong(n)    => n
      case JDouble(d)  => d.toLong
      case JDecimal(d) => d.toLong
      case other => throw new IllegalStateException(s"malformed commit record number $other")
    }
    def str(k: String): Option[String] = fields.get(k).collect { case JString(s) => s }
    def obj(k: String): List[JField] = fields.get(k) match {
      case Some(JObject(fs)) => fs
      case _ => Nil
    }
    def strs(s: String): Seq[String] = s.split(",").filter(_.nonEmpty).toSeq
    def text(j: JValue): String = j match { case JString(s) => s; case _ => "" }
    def range(j: JValue): (Long, Long) = j match {
      case JArray(List(lo, hi)) => (num(lo), num(hi))
      case other => throw new IllegalStateException(s"malformed commit record range $other")
    }
    // the column part of a compound key never holds `|` (see the name
    // guard), so the first `|` splits it
    def split(k: String): (String, String) = k.indexOf('|') match {
      case -1 => throw new IllegalStateException(s"malformed commit record key $k")
      case i  => (k.substring(0, i), k.substring(i + 1))
    }
    val dirs = fields.get("dirs") match {
      case Some(JArray(ds)) => ds.map(text)
      case _ => throw new IllegalStateException("malformed commit record")
    }
    val ts = fields.get("ts").map(num)
      .getOrElse(throw new IllegalStateException("record has no ts"))
    def longs(k: String): Map[String, Long] = obj(k).map { case (d, n) => d -> num(n) }.toMap
    Record(
      version = fields.get("version").map(num(_).toInt).getOrElse(0),
      dirs = dirs,
      ts = ts,
      op = str("op"),
      statsCol = str("statsCol"),
      stats = obj("stats").map { case (d, e) => d -> range(e) }.toMap,
      statsCols = str("statsCols").toSeq.flatMap(strs),
      mstats = obj("mstats").map { case (k, e) => split(k) -> range(e) }.toMap,
      rows = fields.get("rows").map(_ => longs("rows")),
      bytes = fields.get("bytes").map(_ => longs("bytes")),
      sumCol = str("sumCol"),
      sums = longs("sums"),
      sumsVoid = str("sumsVoid").toSeq.flatMap(strs).toSet,
      bloomCol = for (c <- str("bloomCol"); b <- fields.get("bloomBits")) yield (c, num(b).toInt),
      bloom = obj("bloom").map { case (d, b) => d -> text(b) }.toMap,
      alters = obj("alters").map { case (k, ds) =>
        val (c, t) = split(k); (c, t, strs(text(ds))) },
      checks = obj("checks").map { case (n, e) => n -> text(e) },
      policy = fields.get("policy").map { _ =>
        val p = obj("policy").toMap
        def get(k: String, default: Long): Long = p.get(k).map(num).getOrElse(default)
        Versioned.MaintenancePolicy(get("smallRows", 0L), get("targetRows", 0L),
          get("buckets", 16L).toInt, get("maxCover", 2L).toInt,
          p.get("maxDvFraction").map {
            case JDouble(d) => d
            case j => num(j).toDouble
          }.getOrElse(0.3))
      },
      dv = obj("dv").map { case (d, s) => d -> strs(text(s)) }.toMap,
      dvRows = longs("dvRows"),
      batchId = fields.get("batchId").map(num),
      pins = obj("pins").map { case (n, v) => n -> num(v).toInt }.toMap,
      rebaseSnap = fields.get("rebaseSnap").contains(JBool(true)))
  }
}
