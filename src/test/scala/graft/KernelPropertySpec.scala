package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.unsafe.types.UTF8String

/** Property-style randomized cross-checks (seeded, deterministic): each
  * round-5 row kernel vs an independent naive reference implementation,
  * hundreds of adversarial random cases beyond the table-driven goldens.
  * Pure JVM — no Spark session needed, so the whole suite runs in
  * milliseconds.
  */
class KernelPropertySpec extends AnyFunSuite {

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("AC blocklist == naive all-positions matcher (400 random cases)") {
    import graft.functions.AcWorker
    val rnd = new scala.util.Random(20260820L)
    val alphabet = "ab "
    def randStr(max: Int): String =
      (0 until rnd.nextInt(max + 1)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    var i = 0
    while (i < 400) {
      val nPhrases = 1 + rnd.nextInt(8)
      // distinct non-empty phrases (duplicates would double-count in the
      // naive matcher but collapse onto one trie node in the automaton)
      val phrases = Iterator.continually(randStr(5)).filter(_.nonEmpty)
        .distinct.take(nPhrases).toSeq
      val text = randStr(60)
      // naive: every (start, pid) substring occurrence
      val naive = for {
        (p, pid) <- phrases.zipWithIndex
        start <- 0 to text.length - p.length
        if text.regionMatches(start, p, 0, p.length)
      } yield (start, pid)
      val nMatches = naive.size.toLong
      val nDistinct = naive.map(_._2).distinct.size.toLong
      val first =
        if (naive.isEmpty) (-1L, -1L)
        else { val m = naive.minBy { case (s, p) => (s, p) }; (m._1.toLong, m._2.toLong) }
      val r = new AcWorker(phrases.toArray).compute(UTF8String.fromString(text))
      assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
        ((nMatches, nDistinct, first._1, first._2)),
        s"phrases=$phrases text='$text'")
      i += 1
    }
  }

  test("winnow == brute distinct-argmin over all windows (300 random cases)") {
    import graft.functions.WinnowWorker
    val rnd = new scala.util.Random(7L)
    val alphabet = "abc"
    var i = 0
    while (i < 300) {
      val k = 1 + rnd.nextInt(4)
      val w = 1 + rnd.nextInt(4)
      val text = (0 until rnd.nextInt(40))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      def h48(g: String): Long = java.lang.Long.parseLong(md5hex(g).take(12), 16)
      val n = text.length - k + 1
      val brute: Seq[Long] =
        if (n < w) Seq.empty
        else {
          val hs = (0 until n).map(j => h48(text.substring(j, j + k)))
          (0 to n - w).map(s => (s until s + w).minBy(j => (hs(j), -j)))
            .distinct.sorted.map(hs)
        }
      val got = new WinnowWorker(k, w)
        .compute(UTF8String.fromString(text)).toLongArray().toSeq
      assert(got == brute, s"k=$k w=$w text='$text'")
      i += 1
    }
  }

  test("char entropy == naive recompute (300 random cases)") {
    import graft.functions.CharEntropyWorker
    val rnd = new scala.util.Random(99L)
    val worker = new CharEntropyWorker
    val LN2 = math.log(2.0)
    var i = 0
    while (i < 300) {
      val text = (0 until rnd.nextInt(80))
        .map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
      val n = text.length.toLong
      val counts = text.groupBy(identity).map { case (_, v) => v.length.toLong }
      val hSum = if (n == 0) 0L else counts.map { kc =>
        kc * BigDecimal(math.log(n.toDouble / kc) / LN2 * 1e6)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      }.sum
      val r = worker.compute(UTF8String.fromString(text))
      assert((r.getLong(0), r.getLong(1), r.getLong(2)) ==
        ((n, counts.size.toLong, hSum)), s"text='$text'")
      i += 1
    }
  }

  test("JL projection == naive sign-matrix multiply (200 random cases)") {
    import graft.functions.VectorKernelsImpl
    val rnd = new scala.util.Random(123L)
    var i = 0
    while (i < 200) {
      val dIn = 1 + rnd.nextInt(16)
      val dOut = 1 + rnd.nextInt(6)
      val v = Array.fill(dIn)((rnd.nextInt(2001) - 1000) / 512.0f)
      val signs = Array.tabulate(dIn, dOut) { (a, b) =>
        if ("02468ace".contains(md5hex(s"jl:$a:$b").head)) 1 else -1
      }
      val naive = Array.tabulate(dOut) { j =>
        (0 until dIn).map { a =>
          signs(a)(j) * BigDecimal(v(a).toDouble * 1e6)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        }.sum
      }
      val arr = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        v.map(x => x: Any))
      val got = VectorKernelsImpl.jlProject(arr, dOut).toLongArray()
      assert(got.toSeq == naive.toSeq, s"dIn=$dIn dOut=$dOut")
      i += 1
    }
  }

  // ---- map kernels --------------------------------------------------------
  // Each map kernel against a naive Scala-collection reference over seeded
  // random maps: null and empty maps, null values, keys that share
  // prefixes, non-BMP and multi-byte keys, and patterns that match nothing,
  // everything or some keys. Inputs come as both ArrayBasedMapData and
  // UnsafeMapData (what generated code hands a kernel).

  private type Entries = Seq[(String, Any)]
  import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, MapType, StringType}
  import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, MapData}

  private val keyParts = Seq("a", "ab", "b", " ", "k", "signoz.", "é", "😀", "𝄞")
  private val strVals = Seq("", "x", "abc", "a b", "été", "😀😀z", "long value here")
  private val numVals = Seq(0.0, 3.0, -2.5, 1e-4, 12345678.5, 1e21)

  private def randKey(rnd: scala.util.Random): String =
    (0 until 1 + rnd.nextInt(3)).map(_ => keyParts(rnd.nextInt(keyParts.length))).mkString

  /** Up to `max` entries with distinct keys; about one value in five is null. */
  private def randEntries(rnd: scala.util.Random, vt: DataType, max: Int = 7): Entries = {
    val keys = Iterator.continually(randKey(rnd)).take(rnd.nextInt(max + 1)).toSeq.distinct
    keys.map { k =>
      val v: Any =
        if (rnd.nextInt(5) == 0) null
        else vt match {
          case StringType => strVals(rnd.nextInt(strVals.length))
          case DoubleType => numVals(rnd.nextInt(numVals.length))
          case BooleanType => rnd.nextBoolean()
        }
      k -> v
    }
  }

  private def toCatalyst(v: Any): Any = v match {
    case s: String => UTF8String.fromString(s)
    case other => other
  }

  private def fromCatalyst(v: Any): Any = v match {
    case u: UTF8String => u.toString
    case other => other
  }

  /** `es` as a MapData: ArrayBasedMapData, or its UnsafeMapData copy. */
  private def mapOf(es: Entries, vt: DataType, unsafe: Boolean): MapData = {
    val m = ArrayBasedMapData(es.map(_._1).map(toCatalyst).toArray, es.map(_._2).map(toCatalyst).toArray)
    if (!unsafe) m
    else {
      val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(
        Array[DataType](MapType(StringType, vt, valueContainsNull = true)))
      proj(org.apache.spark.sql.catalyst.InternalRow(m)).getMap(0).copy()
    }
  }

  private def entriesOf(m: MapData, vt: DataType): Entries =
    if (m == null) null
    else (0 until m.numElements()).map { i =>
      m.keyArray().getUTF8String(i).toString ->
        (if (m.valueArray().isNullAt(i)) null else fromCatalyst(m.valueArray().get(i, vt)))
    }

  /** A random map (18 in 20 non-null) of value type `vt`, with its entries. */
  private def randMap(rnd: scala.util.Random, vt: DataType): (MapData, Entries) =
    if (rnd.nextInt(20) == 0) (null, null)
    else { val es = randEntries(rnd, vt); (mapOf(es, vt, rnd.nextBoolean()), es) }

  private def keysOf(es: Entries): Set[String] = if (es == null) Set.empty else es.map(_._1).toSet

  private val patterns = Seq("q{9}", "", ".*", "^a", "b$", "😀", "é|k", "^signoz\\.")
  private val valueTypes = Seq(StringType, DoubleType, BooleanType)

  private def cases(seed: Long, n: Int = 300)(f: scala.util.Random => Unit): Unit = {
    val rnd = new scala.util.Random(seed)
    (0 until n).foreach(_ => f(rnd))
  }

  test("map key filters == naive filter (MapFilterKeys, MapKeysRegex, MapDropKeyPrefix, MapDropNullValues)") {
    import graft.functions._
    cases(151L) { rnd =>
      val vt = valueTypes(rnd.nextInt(3))
      val (m, es) = randMap(rnd, vt)
      val keep = rnd.nextBoolean()
      val named = (keysOf(es).toSeq ++ Seq.fill(3)(randKey(rnd))).filter(_ => rnd.nextBoolean())
      val fk = new MapFilterKeysWorker(named.toArray, keep, vt).filter(m)
      assert(entriesOf(fk, vt) == Option(es).map(_.filter(e => named.contains(e._1) == keep)).orNull,
        s"MapFilterKeys $named keep=$keep $es")
      val pat = patterns(rnd.nextInt(patterns.length))
      val re = java.util.regex.Pattern.compile(pat)
      val kr = new MapKeysRegexWorker(pat, keep, vt).filter(m)
      assert(entriesOf(kr, vt) == Option(es).map(_.filter(e => re.matcher(e._1).find() == keep)).orNull,
        s"MapKeysRegex /$pat/ keep=$keep $es")
    }
    cases(152L) { rnd =>
      val (m, es) = randMap(rnd, StringType)
      val prefix = Seq("", "a", "ab", "signoz.", "😀", "zz")(rnd.nextInt(6))
      val dp = MapDropKeyPrefixKernel.drop(m, UTF8String.fromString(prefix))
      assert(entriesOf(dp, StringType) == Option(es).map(_.filterNot(_._1.startsWith(prefix))).orNull,
        s"MapDropKeyPrefix '$prefix' $es")
      val dn = MapDropNullValuesKernel.drop(m)
      assert(entriesOf(dn, StringType) == Option(es).map(_.filter(_._2 != null)).orNull,
        s"MapDropNullValues $es")
    }
  }

  test("map merges == naive key-set arithmetic (MergeMaps, MapKeysIn)") {
    import graft.functions._
    cases(153L) { rnd =>
      val vt = valueTypes(rnd.nextInt(3))
      val (old, oldEs) = randMap(rnd, vt)
      val (winner, winEs) = randMap(rnd, vt)
      val (d1, d1Es) = randMap(rnd, DoubleType)
      val (d2, d2Es) = randMap(rnd, BooleanType)
      val drop = keysOf(winEs) ++ keysOf(d1Es) ++ keysOf(d2Es)
      val merged = new MapMergeWorker(vt).merge(old, winner, d1, d2)
      val want = Option(oldEs).map(_.filterNot(e => drop.contains(e._1)) ++ Option(winEs).getOrElse(Nil)).orNull
      assert(entriesOf(merged, vt) == want, s"MergeMaps $oldEs <- $winEs - $d1Es - $d2Es")
      val present = rnd.nextBoolean()
      val in = new MapKeysInWorker(vt, present).filter(old, winner, d1, d2)
      assert(entriesOf(in, vt) == Option(oldEs).map(_.filter(e => drop.contains(e._1) == present)).orNull,
        s"MapKeysIn present=$present $oldEs in $drop")
    }
  }

  test("limit == naive joint budget over the three typed maps (LimitTypedMaps)") {
    import graft.functions._
    cases(154L) { rnd =>
      val maps = valueTypes.map(vt => randMap(rnd, vt))
      val all = maps.flatMap(m => Option(m._2).getOrElse(Nil)).map(_._1)
      val n = rnd.nextInt(all.size + 2)
      val priority = (all ++ Seq.fill(2)(randKey(rnd))).filter(_ => rnd.nextInt(4) == 0)
      val got = new LimitTypedMapsWorker(n, priority.toArray)
        .limit(maps(0)._1, maps(1)._1, maps(2)._1)
      val want: Seq[Entries] =
        if (all.size <= n) maps.map(_._2)
        else {
          var budget = math.max(0, n - all.count(priority.contains))
          maps.map(m => Option(m._2).map(_.filter { e =>
            priority.contains(e._1) || (budget > 0 && { budget -= 1; true })
          }).orNull)
        }
      valueTypes.indices.foreach { j =>
        assert(entriesOf(got.getMap(j), valueTypes(j)) == want(j),
          s"limit n=$n priority=$priority map $j ${maps.map(_._2)}")
      }
    }
  }

  test("map rewrites == naive map (MapTruncateValues, MapReplacePatterns, MapRenameKeys, MapGrokNumeric)") {
    import graft.functions._
    def codePoints(s: String, limit: Int): String = {
      val cps = s.codePoints().toArray
      if (cps.length <= limit) s else new String(cps, 0, limit)
    }
    cases(155L) { rnd =>
      val (m, es) = randMap(rnd, StringType)
      val limit = rnd.nextInt(6)
      val tr = new MapTruncateValuesWorker(limit).truncate(m)
      assert(entriesOf(tr, StringType) == Option(es).map(_.map { case (k, v) =>
        k -> (if (v == null) null else codePoints(v.toString, limit))
      }).orNull, s"truncate_all $limit $es")
      val (pat, rep) = Seq(("(q{9})", "x"), ("(a)", "<$1>"), ("(b)$", ""), ("(😀)", "+$1"),
        ("(.)", "$1$1"))(rnd.nextInt(5))
      val re = java.util.regex.Pattern.compile(pat)
      val vt = valueTypes(rnd.nextInt(3))
      val (km, kes) = randMap(rnd, vt)
      val rk = new MapReplacePatternsWorker("key", pat, rep, vt).replace(km)
      assert(entriesOf(rk, vt) == Option(kes).map(_.map { case (k, v) =>
        re.matcher(k).replaceAll(rep) -> v }).orNull, s"replace keys /$pat/ $kes")
      val rv = new MapReplacePatternsWorker("value", pat, rep, StringType).replace(m)
      assert(entriesOf(rv, StringType) == Option(es).map(_.map { case (k, v) =>
        k -> (if (v == null) null else re.matcher(v.toString).replaceAll(rep)) }).orNull,
        s"replace values /$pat/ $es")
      val renames = Seq("a" -> "A", "ab" -> "a", "ké" -> "K").filter(_ => rnd.nextBoolean())
      val rn = new MapRenameKeysWorker(renames.map(r => Array(r._1, r._2)).toArray).rename(m)
      assert(entriesOf(rn, StringType) == Option(es).map(_.map { case (k, v) =>
        val s = k.replace(" ", ""); renames.toMap.getOrElse(s, s) -> v }).orNull,
        s"rename $renames $es")
    }
    cases(156L) { rnd =>
      val raw = Seq("12", "-3", "abc", "", "0042", "2.5", "1e3", "9223372036854775808")
      val es: Entries =
        if (rnd.nextInt(20) == 0) null
        else Iterator.continually(randKey(rnd)).take(rnd.nextInt(7)).toSeq.distinct.map(k =>
          k -> (if (rnd.nextInt(5) == 0) null else raw(rnd.nextInt(raw.length))))
      val m = if (es == null) null else mapOf(es, StringType, rnd.nextBoolean())
      val ints = keysOf(es).filter(_ => rnd.nextBoolean())
      val got = new MapGrokNumericWorker(ints.toArray).convert(m)
      val want = Option(es).map(_.map { case (k, v) =>
        k -> (if (v == null) null
          else if (ints.contains(k)) {
            // the non-ANSI string->long cast: digits, a fraction truncated, in range
            val s = v.toString
            if (!s.matches("-?\\d+(\\.\\d*)?")) null
            else Some(BigDecimal(s).toBigInt).filter(_.isValidLong).map(b => Double.box(b.toDouble)).orNull
          }
          else scala.util.Try(v.toString.trim.toDouble).toOption.map(Double.box).orNull)
      }).orNull
      assert(entriesOf(got, DoubleType) == want, s"grok numeric ints=$ints $es")
    }
  }

  test("sorted-key JSON == naive byte-order sort and join (MapSortedJson)") {
    import graft.functions._
    val byUtf8 = Ordering.Implicits.seqOrdering[Seq, Int]
    cases(157L) { rnd =>
      val (m, es) = randMap(rnd, StringType)
      val want = Option(es).map(_.sortBy(_._1.getBytes("UTF-8").toSeq.map(_ & 0xff))(byUtf8).map {
        case (k, v) => JsonCanon.quote(k) + ":" + (if (v == null) "null" else JsonCanon.quote(v.toString))
      }.mkString("{", ",", "}")).orNull
      assert(Option(MapSortedJsonKernel.toJson(m)).map(_.toString).orNull == want, s"$es")
    }
  }

  test("pattern hash == naive hash-and-move over the three typed maps (HashTypedMaps)") {
    import graft.functions._
    def sha256(s: String): String =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // a number's text is GoFloatSpec's subject; here it only has to be the kernel's
    def render(v: Any): String = v match {
      case d: Double => GoFloat.int64Or(d, GoFloat.percentV)
      case other => other.toString
    }
    cases(159L) { rnd =>
      val maps = valueTypes.map(vt => randMap(rnd, vt))
      val pat = patterns(rnd.nextInt(patterns.length))
      val re = java.util.regex.Pattern.compile(pat)
      def hit(e: (String, Any)) = re.matcher(e._1).find()
      def hashed(e: (String, Any)) = e._1 -> (if (e._2 == null) null else sha256(render(e._2)))
      val Seq(s, n, b) = maps.map(_._2)
      val got = new HashTypedMapsWorker(pat).hash(maps(0)._1, maps(1)._1, maps(2)._1)
      val want = Seq(
        if (s == null || n == null || b == null) null
        else s.map(e => if (hit(e)) hashed(e) else e) ++ n.filter(hit).map(hashed) ++ b.filter(hit).map(hashed),
        Option(n).map(_.filterNot(hit)).orNull,
        Option(b).map(_.filterNot(hit)).orNull)
      valueTypes.indices.foreach { j =>
        assert(entriesOf(got.getMap(j), valueTypes(j)) == want(j), s"/$pat/ map $j ${maps.map(_._2)}")
      }
    }
  }

  test("a map kernel that drops or changes nothing returns its input instance") {
    import graft.functions._
    cases(158L, 200) { rnd =>
      val vt = valueTypes(rnd.nextInt(3))
      val es = randEntries(rnd, vt).filter(e => !e._1.contains(" "))
      val m = mapOf(es, vt, rnd.nextBoolean())
      val keys = es.map(_._1)
      val absent = Seq("\u0000absent")
      def same(kernel: String, out: AnyRef): Unit = assert(out eq m, s"$kernel copied $es")
      same("MapFilterKeys drop", new MapFilterKeysWorker(absent.toArray, false, vt).filter(m))
      same("MapFilterKeys keep", new MapFilterKeysWorker(keys.toArray, true, vt).filter(m))
      same("MapKeysRegex drop", new MapKeysRegexWorker("q{9}", false, vt).filter(m))
      same("MapKeysRegex keep", new MapKeysRegexWorker("", true, vt).filter(m))
      same("MapKeysIn insert", new MapKeysInWorker(vt, false).filter(m, null, mapOf(Nil, vt, false), null))
      same("MapKeysIn update", new MapKeysInWorker(vt, true).filter(m, m, null, null))
      val other = mapOf(Seq("\u0000other" -> null), DoubleType, rnd.nextBoolean())
      same("MergeMaps", new MapMergeWorker(vt).merge(m, null, other, null))
      same("MapReplacePatterns key", new MapReplacePatternsWorker("key", "(q{9})", "x", vt).replace(m))
      val limited = new LimitTypedMapsWorker(0, keys.toArray).limit(m, other, null)
      same("LimitTypedMaps priority", limited.getMap(0))
      // a string map without null values, each value one character long
      val s = mapOf(es.map(e => e._1 -> "v"), StringType, rnd.nextBoolean())
      def sameS(kernel: String, out: AnyRef): Unit = assert(out eq s, s"$kernel copied $es")
      sameS("MapDropKeyPrefix", MapDropKeyPrefixKernel.drop(s, UTF8String.fromString("\u0000")))
      sameS("MapDropNullValues", MapDropNullValuesKernel.drop(s))
      sameS("MapTruncateValues", new MapTruncateValuesWorker(1).truncate(s))
      sameS("MapReplacePatterns value", new MapReplacePatternsWorker("value", "(q{9})", "x", StringType).replace(s))
      sameS("MapRenameKeys", new MapRenameKeysWorker(Array(Array("\u0000a", "b"))).rename(s))
    }
  }
}
