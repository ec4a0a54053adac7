package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

/** One live data file of a snapshot table, as its manifest line spells
  * it — the one owner of the entry grammar:
  *
  * {{{
  *   <file>                                a legacy entry, no riders
  *   <file>\t<token>;<token>;...
  * }}}
  *
  * `<file>` is the table-relative name, or an absolute path for an
  * external (cloned) reference. Every token is `key=kind:value`, and a
  * token is told apart by its (key, kind), never by its key alone — a
  * column may be physically named `_dv` or `_sz`:
  *
  *   - per-column footer stats, keyed by the PHYSICAL column name:
  *     `col=l:<min>:<max>` (INT64), `col=i:<min>:<max>` (INT32, DATE),
  *     `col=d:<min>:<max>` (DOUBLE), `col=s:<b64 min>:<b64 max>` (short
  *     UTF8 strings, unpadded base64url bytes);
  *   - `_sz=z:<bytes>`: the file's byte size;
  *   - `_rc=r:<rows>`: its PHYSICAL row count (deletion vectors do not
  *     lower it);
  *   - `_bk=k:<bucket>`: its bucket id under a bucketed layout;
  *   - `_dv=v:<sidecar>` and `_dvc=c:<dead rows>`: its deletion vector,
  *     a name under `_dv/` or an absolute path for a cloned one;
  *   - `_bm<b64 column>=b:<b64 bits>`: its bloom over a physical column
  *     ([[BloomBits]] bits, [[BloomK]] hashes).
  *
  * A fresh file's tokens are `_sz;_rc;<stats by column>;_bk`; an
  * amendment keeps the old tokens in order and appends its rider.
  * Column names holding `=` or `;` carry no stats (the writer omits
  * them), and `:` in a column name is fine: the kind ends at the first
  * `:` after the `=`. Reading is lenient: a token of unknown shape is
  * kept verbatim and renders back byte for byte.
  *
  * Entries compare by their `line`: two entries are equal exactly when
  * they spell the same bytes, which is what a commit's verbatim
  * conflict check asks. */
final class ManifestEntry private (
    val line: String,
    val name: String,
    val size: Option[Long],
    val rows: Option[Long],
    val bucket: Option[Int],
    val dv: Option[String],
    val dvCount: Option[Long],
    val blooms: Map[String, Array[Long]],
    val stats: Map[String, ManifestEntry.ColumnStat]) {
  import ManifestEntry._

  /** The tokens after the tab, verbatim and in order. */
  def tokens: Seq[String] = tokensOf(line)

  /** Rows a reader gets: `_rc` minus the deletion vector's `_dvc`. */
  def liveRows: Option[Long] = rows.map(_ - dvCount.getOrElse(0L))

  /** The INT64/INT32 `[min, max]` of a physical column, if recorded. */
  def longRange(column: String): Option[(Long, Long)] =
    stats.get(column).collect { case LongRange(mn, mx, _) => (mn, mx) }

  /** This entry with a new deletion vector: any previous `_dv`/`_dvc`
    * pair goes, every other token stays. */
  def withDv(sidecar: String, dead: Long): ManifestEntry =
    amended(t => !isRider(t, "_dv", "v") && !isRider(t, "_dvc", "c"),
      Seq(s"_dv=v:$sidecar", s"_dvc=c:$dead"))

  /** This entry with (new) `_sz` and `_rc` riders. */
  def withSizeAndRows(bytes: Long, physicalRows: Long): ManifestEntry =
    amended(t => !isRider(t, "_sz", "z") && !isRider(t, "_rc", "r"),
      Seq(s"_sz=z:$bytes", s"_rc=r:$physicalRows"))

  /** This entry with a (new) bloom rider for a physical column. */
  def withBloom(column: String, bits: Array[Long]): ManifestEntry = {
    val key = s"_bm${b64(column.getBytes(UTF_8))}"
    val bb = java.nio.ByteBuffer.allocate(bits.length * 8)
    bits.foreach(bb.putLong)
    amended(t => !isRider(t, key, "b"), Seq(s"$key=b:${b64(bb.array())}"))
  }

  /** The same tokens under another name, with the deletion-vector
    * sidecar re-spelled in place (a clone's absolute references, a
    * publish's adoption back to table-relative names). */
  def relocated(newName: String, sidecar: String => String): ManifestEntry =
    of(newName, tokens.map { t =>
      if (isRider(t, "_dv", "v")) s"_dv=v:${sidecar(t.substring(6))}" else t
    })

  private def amended(keep: String => Boolean, add: Seq[String]): ManifestEntry =
    of(name, tokens.filter(keep) ++ add)

  override def equals(o: Any): Boolean = o match {
    case e: ManifestEntry => e.line == line
    case _                => false
  }

  override def hashCode: Int = line.hashCode

  override def toString: String = line
}

object ManifestEntry {

  /** Footer min/max of one column. */
  sealed trait ColumnStat

  /** INT64 (`l`) or INT32 (`i`) bounds, compared in long space. */
  final case class LongRange(min: Long, max: Long, int32: Boolean = false) extends ColumnStat

  /** DOUBLE (`d`) bounds. */
  final case class DoubleRange(min: Double, max: Double) extends ColumnStat

  /** UTF8 (`s`) bounds as bytes, compared unsigned (parquet's order). */
  final case class BytesRange(min: Array[Byte], max: Array[Byte]) extends ColumnStat

  /** What a pruning check asks of one file's riders. Every probe only
    * EXCLUDES: a file without the stat or bloom it needs is admitted. */
  sealed trait Probe

  /** Some value in `[lo, hi]` may live here: long or int stats compare
    * in long space, double stats in double space. */
  final case class LongBetween(lo: Long, hi: Long) extends Probe

  /** Some UTF8 value in `[lo, hi]` may live here (string stats only). */
  final case class StringBetween(lo: String, hi: String) extends Probe {
    private[ManifestEntry] val loB = lo.getBytes(UTF_8)
    private[ManifestEntry] val hiB = hi.getBytes(UTF_8)
  }

  /** One of `keys` (sorted, distinct) may live here (long or int stats
    * only) — one binary search per file. */
  final case class AnyLong(keys: Array[Long]) extends Probe

  /** The file's bloom does not rule `value` out (long, int or string). */
  final case class BloomHolds(value: Any) extends Probe {
    private[ManifestEntry] val indexes = bloomIndexes(bloomValueBytes(value))
  }

  /** The one pruning check: may `e` hold rows of physical `column`
    * matching `p`? */
  def admits(e: ManifestEntry, column: String, p: Probe): Boolean = p match {
    case LongBetween(lo, hi) =>
      e.stats.get(column) match {
        case Some(LongRange(mn, mx, _)) => !(mx < lo || mn > hi)
        case Some(DoubleRange(mn, mx))  => !(mx < lo.toDouble || mn > hi.toDouble)
        case _                          => true
      }
    case s: StringBetween =>
      e.stats.get(column) match {
        case Some(BytesRange(mn, mx)) =>
          !(compareBytes(mx, s.loB) < 0 || compareBytes(mn, s.hiB) > 0)
        case _ => true
      }
    case AnyLong(keys) =>
      e.longRange(column).forall { case (mn, mx) =>
        val i = java.util.Arrays.binarySearch(keys, mn)
        val at = if (i >= 0) i else -i - 1
        at < keys.length && keys(at) <= mx
      }
    case b: BloomHolds =>
      e.blooms.get(column).forall(bits =>
        b.indexes.forall(ix =>
          (ix >> 6) >= bits.length || (bits(ix >> 6) & (1L << (ix & 63))) != 0L))
  }

  /** Parses one manifest line. Total: a token it cannot read is kept
    * as an unknown token. */
  def parse(line: String): ManifestEntry = {
    val tab = line.indexOf('\t')
    val name = if (tab < 0) line else line.substring(0, tab)
    var size, rows, dvCount = Option.empty[Long]
    var bucket = Option.empty[Int]
    var dv = Option.empty[String]
    val blooms = scala.collection.mutable.Map.empty[String, Array[Long]]
    val stats = scala.collection.mutable.Map.empty[String, ColumnStat]
    tokensOf(line).foreach { t =>
      val eq = t.indexOf('=')
      val colon = if (eq < 0) -1 else t.indexOf(':', eq + 1)
      if (colon > 0) {
        val key = t.substring(0, eq)
        val value = t.substring(colon + 1)
        t.substring(eq + 1, colon) match {
          case "z" if key == "_sz" && size.isEmpty     => size = value.toLongOption
          case "r" if key == "_rc" && rows.isEmpty     => rows = value.toLongOption
          case "k" if key == "_bk" && bucket.isEmpty   => bucket = value.toIntOption
          case "v" if key == "_dv" && dv.isEmpty       => dv = Some(value)
          case "c" if key == "_dvc" && dvCount.isEmpty => dvCount = value.toLongOption
          case "b" if key.startsWith("_bm") =>
            for {
              col <- unb64(key.substring(3)).map(new String(_, UTF_8))
              if !blooms.contains(col)
              bytes <- unb64(value)
            } {
              val bb = java.nio.ByteBuffer.wrap(bytes)
              blooms(col) = Array.fill(bytes.length / 8)(bb.getLong())
            }
          case kind if !stats.contains(key) =>
            statOf(kind, value).foreach(stats(key) = _)
          case _ => // an unknown token rides along verbatim
        }
      }
    }
    new ManifestEntry(
      line, name, size, rows, bucket, dv, dvCount, blooms.toMap, stats.toMap)
  }

  private def tokensOf(line: String): Seq[String] = {
    val tab = line.indexOf('\t')
    if (tab < 0 || tab == line.length - 1) Nil
    else line.substring(tab + 1).split(";", -1).toSeq
  }

  /** A freshly landed file's entry: `_sz;_rc;<stats by column>;_bk`. */
  def fresh(
      name: String,
      bytes: Long,
      rows: Long,
      stats: Seq[(String, ColumnStat)],
      bucket: Option[Int]
  ): ManifestEntry =
    of(name,
      Seq(s"_sz=z:$bytes", s"_rc=r:$rows") ++
        stats.sortBy(_._1).map { case (c, s) => s"$c=${render(s)}" } ++
        bucket.map(b => s"_bk=k:$b"))

  /** The line of `e`, written from its name and tokens. */
  def render(e: ManifestEntry): String = render(e.name, e.tokens)

  private def render(name: String, tokens: Seq[String]): String =
    if (tokens.isEmpty) name else tokens.mkString(s"$name\t", ";", "")

  private def of(name: String, tokens: Seq[String]): ManifestEntry =
    parse(render(name, tokens))

  private def render(s: ColumnStat): String = s match {
    case LongRange(mn, mx, int32) => s"${if (int32) "i" else "l"}:$mn:$mx"
    case DoubleRange(mn, mx)      => s"d:$mn:$mx"
    case BytesRange(mn, mx)       => s"s:${b64(mn)}:${b64(mx)}"
  }

  private def statOf(kind: String, value: String): Option[ColumnStat] = {
    val c = value.indexOf(':')
    if (c < 0 || value.indexOf(':', c + 1) >= 0) None
    else {
      val (mn, mx) = (value.substring(0, c), value.substring(c + 1))
      kind match {
        case "l" | "i" =>
          for (a <- mn.toLongOption; b <- mx.toLongOption) yield LongRange(a, b, kind == "i")
        case "d" =>
          for (a <- mn.toDoubleOption; b <- mx.toDoubleOption) yield DoubleRange(a, b)
        case "s" => for (a <- unb64(mn); b <- unb64(mx)) yield BytesRange(a, b)
        case _   => None
      }
    }
  }

  /** `key=kind:` — exactly the rider (key, kind), whatever follows. */
  private def isRider(token: String, key: String, kind: String): Boolean =
    token.startsWith(s"$key=$kind:")

  private def b64(bytes: Array[Byte]): String =
    java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(bytes)

  private def unb64(s: String): Option[Array[Byte]] =
    try Some(java.util.Base64.getUrlDecoder.decode(s))
    catch { case _: IllegalArgumentException => None }

  // --- the bloom rider's bits ---------------------------------------

  val BloomBits = 4096
  val BloomK = 5

  private[graft] def bloomIndexes(value: Array[Byte]): Seq[Int] = {
    import scala.util.hashing.MurmurHash3
    val h1 = MurmurHash3.bytesHash(value, 0x9747b28c)
    val h2 = MurmurHash3.bytesHash(value, 0x85ebca6b) | 1
    (0 until BloomK).map(i => math.floorMod(h1 + i * h2, BloomBits))
  }

  private[graft] def bloomValueBytes(v: Any): Array[Byte] = v match {
    case l: java.lang.Long    => java.nio.ByteBuffer.allocate(8).putLong(l).array()
    case i: java.lang.Integer => bloomValueBytes(i.longValue(): java.lang.Long)
    case s: String            => s.getBytes(UTF_8)
    case other =>
      throw new UnsupportedOperationException(
        s"bloom index: unsupported value type ${other.getClass.getSimpleName} " +
          "(long/int/string)")
  }

  /** Unsigned byte-wise lexicographic compare — parquet's UTF8 binary
    * sort order (Java String compare disagrees past the BMP). */
  private[graft] def compareBytes(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }
}
