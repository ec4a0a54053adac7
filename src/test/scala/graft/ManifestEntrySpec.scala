package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ManifestEntry
import graft.sources.ManifestEntry._

/** The manifest entry grammar (sources/ManifestEntry): every line shape
  * the snapshot log writes or has written round-trips byte for byte,
  * riders are told from stats by (key, kind), and the one pruning
  * check agrees with a string-level reading of the grammar on seeded
  * random entries. No Spark session: this suite runs in seconds. */
class ManifestEntrySpec extends AnyFunSuite {

  private def b64(bytes: Array[Byte]): String =
    java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(bytes)

  private def bloomToken(column: String, values: Seq[Any]): String = {
    val bits = new Array[Long](BloomBits / 64)
    values.foreach(v =>
      bloomIndexes(bloomValueBytes(v)).foreach(ix => bits(ix >> 6) |= 1L << (ix & 63)))
    val bb = java.nio.ByteBuffer.allocate(bits.length * 8)
    bits.foreach(bb.putLong)
    s"_bm${b64(column.getBytes(UTF_8))}=b:${b64(bb.array())}"
  }

  private val shapes = Seq(
    "part-legacy.parquet",
    "part-a-0.parquet\tid=l:0:9;v=d:0.5:2.25",
    "part-b-0.parquet\t_sz=z:869;_rc=r:16;k=l:-9223372036854775808:-1;n=i:-5:-2;x=d:-1.0E-5:3.5E10",
    s"part-c-0.parquet\t_sz=z:1;_rc=r:1;s=s:${b64(Array(0xfb, 0xff).map(_.toByte))}:__8",
    "part-d-0.parquet\t_sz=z:1;_rc=r:1;a:b=l:1:2",
    "/warehouse/src/part-e-0.parquet\t_sz=z:7;_rc=r:3;id=l:0:2;_dv=v:/warehouse/src/_dv/dv-1.bin;_dvc=c:1",
    "part-f-b3-0.parquet\t_sz=z:9;_rc=r:4;id=l:3:99;_bk=k:3",
    "part-g-0.parquet\t_sz=z:9;_rc=r:4;id=l:0:3;_dv=v:dv-2.bin;_dvc=c:2;" +
      bloomToken("id", Seq(0L, 3L)) + ";" + bloomToken("s", Seq("x")),
    "part-h-0.parquet\t_sz=z:9;zz;foo=q:1;x=l:abc:def;_rc=r:4")

  test("render(parse(line)) is the line for every entry shape") {
    shapes.foreach { l =>
      val e = ManifestEntry.parse(l)
      assert(ManifestEntry.render(e) == l)
      assert(e.line == l && e.toString == l)
      assert(e == ManifestEntry.parse(l) && e.hashCode == l.hashCode)
    }
  }

  test("parse reads the typed fields of every entry shape") {
    val Seq(legacy, statsOnly, negative, strings, colon, external, bucketed, dvBloom, unknown) =
      shapes.map(ManifestEntry.parse)
    assert(legacy.name == "part-legacy.parquet" && legacy.tokens.isEmpty &&
      legacy.size.isEmpty && legacy.rows.isEmpty && legacy.stats.isEmpty)
    assert(statsOnly.size.isEmpty && statsOnly.stats ==
      Map("id" -> LongRange(0, 9), "v" -> DoubleRange(0.5, 2.25)))
    assert(negative.size.contains(869L) && negative.rows.contains(16L))
    assert(negative.stats("k") == LongRange(Long.MinValue, -1))
    assert(negative.stats("n") == LongRange(-5, -2, int32 = true))
    assert(negative.stats("x") == DoubleRange(-1.0e-5, 3.5e10))
    val BytesRange(mn, mx) = strings.stats("s")
    assert(mn.toSeq == Seq(0xfb, 0xff).map(_.toByte) && mx.toSeq == Seq(0xff, 0xff).map(_.toByte))
    assert(colon.stats == Map("a:b" -> LongRange(1, 2)))
    assert(external.name == "/warehouse/src/part-e-0.parquet")
    assert(external.dv.contains("/warehouse/src/_dv/dv-1.bin") && external.dvCount.contains(1L))
    assert(external.liveRows.contains(2L))
    assert(bucketed.bucket.contains(3) && bucketed.dv.isEmpty)
    assert(dvBloom.dv.contains("dv-2.bin") && dvBloom.dvCount.contains(2L))
    assert(dvBloom.blooms.keySet == Set("id", "s") && dvBloom.stats.keySet == Set("id"))
    assert(unknown.size.contains(9L) && unknown.rows.contains(4L) && unknown.stats.isEmpty)
    assert(unknown.tokens == Seq("_sz=z:9", "zz", "foo=q:1", "x=l:abc:def", "_rc=r:4"))
  }

  test("riders are told from stats by kind: columns named _dv, _dvc, _sz, _rc") {
    val e = ManifestEntry.parse(
      "p.parquet\t_sz=z:5;_rc=r:2;_dv=l:10:20;_dvc=l:1:1;_rc=l:7:8;_sz=i:3:4")
    assert(e.size.contains(5L) && e.rows.contains(2L) && e.dv.isEmpty && e.dvCount.isEmpty)
    assert(e.stats == Map(
      "_dv" -> LongRange(10, 20), "_dvc" -> LongRange(1, 1),
      "_rc" -> LongRange(7, 8), "_sz" -> LongRange(3, 4, int32 = true)))
    val amended = e.withDv("dv-9.bin", 1).withDv("dv-10.bin", 2)
    assert(amended.line ==
      "p.parquet\t_sz=z:5;_rc=r:2;_dv=l:10:20;_dvc=l:1:1;_rc=l:7:8;_sz=i:3:4;_dv=v:dv-10.bin;_dvc=c:2")
    assert(amended.stats == e.stats && amended.dv.contains("dv-10.bin"))
    val filled = ManifestEntry.parse("p.parquet\t_sz=i:3:4;_rc=l:7:8").withSizeAndRows(11, 6)
    assert(filled.line == "p.parquet\t_sz=i:3:4;_rc=l:7:8;_sz=z:11;_rc=r:6")
    assert(filled.size.contains(11L) && filled.stats.keySet == Set("_sz", "_rc"))
    assert(ManifestEntry.parse("legacy.parquet").withSizeAndRows(1, 1).line ==
      "legacy.parquet\t_sz=z:1;_rc=r:1")
  }

  test("fresh entries, bloom amendments and relocation write the engine's token order") {
    val fresh = ManifestEntry.fresh(
      "part-j-b1-0.parquet", 100, 10,
      Seq("v" -> DoubleRange(-0.5, 1.0), "id" -> LongRange(-3, 7),
        "d" -> LongRange(1, 2, int32 = true),
        "s" -> BytesRange("a".getBytes(UTF_8), "z".getBytes(UTF_8))),
      Some(1))
    assert(fresh.line ==
      "part-j-b1-0.parquet\t_sz=z:100;_rc=r:10;d=i:1:2;id=l:-3:7;s=s:YQ:eg;v=d:-0.5:1.0;_bk=k:1")
    val bits = Array.fill(BloomBits / 64)(0L)
    bits(0) = 5L
    val once = fresh.withBloom("id", bits)
    val twice = once.withBloom("v", bits).withBloom("id", Array.fill(BloomBits / 64)(0L))
    assert(once.blooms("id").toSeq == bits.toSeq)
    assert(twice.tokens.take(7) == fresh.tokens)
    assert(twice.blooms.keySet == Set("id", "v") && twice.blooms("id").forall(_ == 0L))
    assert(twice.tokens.last.startsWith(s"_bm${b64("id".getBytes(UTF_8))}=b:"))
    val dvd = fresh.withDv("dv-1.bin", 3)
    val moved = dvd.relocated("/src/part-j-b1-0.parquet", d => s"/src/_dv/$d")
    assert(moved.line == dvd.line.replace("part-j", "/src/part-j").replace("v:dv-1", "v:/src/_dv/dv-1"))
    assert(ManifestEntry.parse("legacy.parquet").relocated("/src/legacy.parquet", identity).line ==
      "/src/legacy.parquet")
  }

  /** The pruning rules read straight off the line grammar: the first
    * stat token of the column, a bloom by its column key. */
  private def reference(line: String, column: String, p: Probe): Boolean = {
    val tokens = line.split('\t') match {
      case Array(_, suffix) => suffix.split(';').toSeq
      case _                => Nil
    }
    val stat = tokens
      .find(t => Seq("l", "i", "d", "s").exists(k => t.startsWith(s"$column=$k:")))
      .map(_.stripPrefix(s"$column=").split(":", -1).toSeq) // "s::" is the empty string
    def unsigned(a: Array[Byte], b: Array[Byte]): Int =
      a.map(_ & 0xff).toSeq.zipAll(b.map(_ & 0xff).toSeq, -1, -1)
        .map { case (x, y) => x.compare(y) }.find(_ != 0).getOrElse(0)
    def dec(s: String) = java.util.Base64.getUrlDecoder.decode(s)
    p match {
      case LongBetween(lo, hi) => stat match {
        case Some(Seq("l" | "i", mn, mx)) => mx.toLong >= lo && mn.toLong <= hi
        case Some(Seq("d", mn, mx))       => mx.toDouble >= lo.toDouble && mn.toDouble <= hi.toDouble
        case _                            => true
      }
      case StringBetween(lo, hi) => stat match {
        case Some(Seq("s", mn, mx)) =>
          unsigned(dec(mx), lo.getBytes(UTF_8)) >= 0 && unsigned(dec(mn), hi.getBytes(UTF_8)) <= 0
        case _ => true
      }
      case AnyLong(keys) => stat match {
        case Some(Seq("l" | "i", mn, mx)) => keys.exists(k => k >= mn.toLong && k <= mx.toLong)
        case _                            => true
      }
      case BloomHolds(v) =>
        tokens.find(_.startsWith(s"_bm${b64(column.getBytes(UTF_8))}=b:")) match {
          case None => true
          case Some(t) =>
            val bb = java.nio.ByteBuffer.wrap(dec(t.substring(t.indexOf("=b:") + 3)))
            val bits = Array.fill(BloomBits / 64)(bb.getLong())
            bloomIndexes(bloomValueBytes(v)).forall(ix => (bits(ix >> 6) & (1L << (ix & 63))) != 0)
        }
    }
  }

  test("admits agrees with the string-level reference on seeded random entries") {
    val rnd = new scala.util.Random(20261019L)
    val columns = Seq("id", "v", "s", "_dv", "_sz", "a:b", "ts")
    val words = Seq("", "a", "ab", "b", "m", "z", "é", "ß", "zz", "日本")
    def long(): Long = rnd.nextInt(8) match {
      case 0 => Long.MinValue
      case 1 => Long.MaxValue
      case _ => rnd.nextInt(101) - 50L
    }
    def sorted2[T](a: T, b: T)(implicit o: Ordering[T]): (T, T) = if (o.lteq(a, b)) (a, b) else (b, a)
    def word(): String = words(rnd.nextInt(words.size))
    def wordBytesSorted(): (String, String) = {
      val (a, b) = (word(), word())
      if (ManifestEntry.compareBytes(a.getBytes(UTF_8), b.getBytes(UTF_8)) <= 0) (a, b) else (b, a)
    }
    def entry(i: Int): String = {
      val stats = columns.filter(_ => rnd.nextInt(3) > 0).map { c =>
        rnd.nextInt(4) match {
          case 0 => val (a, b) = sorted2(long(), long()); s"$c=l:$a:$b"
          case 1 => val (a, b) = sorted2(rnd.nextInt(101) - 50, rnd.nextInt(101) - 50); s"$c=i:$a:$b"
          case 2 =>
            val (a, b) = sorted2(rnd.nextGaussian() * 30, rnd.nextGaussian() * 30); s"$c=d:$a:$b"
          case _ =>
            val (a, b) = wordBytesSorted()
            s"$c=s:${b64(a.getBytes(UTF_8))}:${b64(b.getBytes(UTF_8))}"
        }
      }
      val blooms = columns.filter(_ => rnd.nextInt(4) == 0).map(c =>
        bloomToken(c, Seq.fill(rnd.nextInt(4))(
          if (rnd.nextBoolean()) (rnd.nextInt(101) - 50L: Any) else word())))
      val dv = if (rnd.nextBoolean()) Seq(s"_dv=v:dv-$i.bin", "_dvc=c:1") else Nil
      val tokens = Seq(s"_sz=z:$i", s"_rc=r:${i + 1}") ++ stats ++ dv ++ blooms
      s"part-$i.parquet\t${tokens.mkString(";")}"
    }
    def probe(): Probe = rnd.nextInt(5) match {
      case 0 => val (a, b) = sorted2(long(), long()); LongBetween(a, b)
      case 1 => val x = rnd.nextInt(101) - 50L; LongBetween(x, x)
      case 2 => val (a, b) = wordBytesSorted(); StringBetween(a, b)
      case 3 => AnyLong(Seq.fill(1 + rnd.nextInt(5))(rnd.nextInt(101) - 50L).distinct.sorted.toArray)
      case _ => BloomHolds(if (rnd.nextBoolean()) (rnd.nextInt(101) - 50L: Any) else word())
    }
    var excluded = 0
    (0 until 400).foreach { i =>
      val line = entry(i)
      val e = ManifestEntry.parse(line)
      (0 until 40).foreach { _ =>
        val (c, p) = (columns(rnd.nextInt(columns.size)), probe())
        val expect = reference(line, c, p)
        assert(ManifestEntry.admits(e, c, p) == expect, s"$p on $c of $line")
        if (!expect) excluded += 1
      }
      // a column the entry has no stat or bloom for always keeps the file
      assert(ManifestEntry.admits(e, "absent", LongBetween(0, 0)) &&
        ManifestEntry.admits(e, "absent", BloomHolds(0L)))
    }
    assert(excluded > 1000, s"the sample must exercise exclusion, got $excluded")
  }
}
