package perfbench

import java.util.SplittableRandom

/** Seeded spot traffic with the dirty mix both ingest workloads share.
  *
  * Every scrape is a JSON array in the wsprnet API shape. Besides fresh
  * spots it carries a few percent each of: rows re-delivered from the
  * previous scrape (below the cursor), exact intra-scrape duplicates of a
  * `Spotnum`, sequence gaps of two or more ids, and callsigns holding a
  * literal backslash that only `SpotSource.cleanCallsigns` removes.
  * Locators are 4- and 6-character (both cases); frequencies cover every
  * band-map entry plus two unknown ones.
  *
  * Everything is a pure function of the seed, so the same seed gives
  * byte-identical payloads and the same clean set.
  */
object Payloads {

  /** One API field tuple in `SpotSchema.apiSchema` order. */
  type Row = Array[Any]

  final case class Scrape(json: String, clean: Seq[Row])

  val RedeliverFrac = 0.03
  val DuplicateFrac = 0.03
  val GapFrac = 0.02
  val DirtyCallFrac = 0.04

  /** One mid-band frequency per band-map entry, plus two outside the map. */
  private val bandHz: Array[Long] = Array(
    137500L, 475700L, 1838100L, 3570100L, 5288700L, 5364700L, 7040100L,
    10140200L, 14097100L, 18106100L, 21096100L, 24926100L, 28126100L,
    50294500L, 70091000L, 144489500L, 432300500L, 1296501500L,
    2500000L, 99999900L)
  private val bandCode: Array[Int] = Array(
    -1, 0, 1, 3, 5, 5, 7, 10, 14, 18, 21, 24, 28, 50, 70, 144, 432, 1296, 2, 99)

  private val Field = "ABCDEFGHIJKLMNOPQR"
  private val Sub = "abcdefghijklmnopqrstuvwx"
  private val Alpha = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"

  private def locator(r: SplittableRandom): String = {
    val sb = new StringBuilder
    sb += Field.charAt(r.nextInt(18)) += Field.charAt(r.nextInt(18))
    sb += ('0' + r.nextInt(10)).toChar += ('0' + r.nextInt(10)).toChar
    r.nextInt(3) match {
      case 0 => ()
      case 1 => sb += Sub.charAt(r.nextInt(24)) += Sub.charAt(r.nextInt(24))
      case _ => sb += Sub.charAt(r.nextInt(24)).toUpper += Sub.charAt(r.nextInt(24)).toUpper
    }
    sb.toString
  }

  private def callsign(r: SplittableRandom): String = {
    val sb = new StringBuilder
    sb += Alpha.charAt(r.nextInt(26))
    if (r.nextBoolean()) sb += Alpha.charAt(r.nextInt(26))
    sb += ('0' + r.nextInt(10)).toChar
    (0 until 1 + r.nextInt(3)).foreach(_ => sb += Alpha.charAt(r.nextInt(26)))
    sb.toString
  }

  /** The clean value and the value as delivered (possibly with a stray
    * backslash before a portable suffix). */
  private def dirtyCall(r: SplittableRandom, dirty: Boolean): (String, String) = {
    val base = callsign(r)
    if (dirty) { val s = base + "/P"; (s, base + "\\/P") }
    else if (r.nextInt(20) == 0) { val s = base + "/M"; (s, s) }
    else (base, base)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '/' => sb ++= "\\/" // the API escapes slashes
      case c => sb += c
    }
    (sb += '"').toString
  }

  private val keys = graft.spots.SpotSchema.apiColumns

  private def json(row: Row): String =
    keys.indices.map { i =>
      val v = row(i) match {
        case s: String => quote(s)
        case other => other.toString
      }
      s"${quote(keys(i))}:$v"
    }.mkString("{", ",", "}")

  /** `n` scrapes of `size` rows each, Spotnums starting past `firstSpotnum`. */
  def generate(seed: Long, n: Int, size: Int, firstSpotnum: Long = 2769426793L): Seq[Scrape] = {
    val r = new SplittableRandom(seed)
    var next = firstSpotnum + r.nextInt(1000)
    var date = 1614159000L + 120L * r.nextInt(100000)
    var previous: IndexedSeq[(Row, Row)] = IndexedSeq.empty // (delivered, clean)
    (0 until n).map { _ =>
      val delivered = scala.collection.mutable.ArrayBuffer.empty[Row]
      val fresh = scala.collection.mutable.ArrayBuffer.empty[(Row, Row)]
      while (delivered.length < size) {
        val u = r.nextDouble()
        if (u < RedeliverFrac && previous.nonEmpty) {
          delivered += previous(r.nextInt(previous.length))._1
        } else if (u < RedeliverFrac + DuplicateFrac && fresh.nonEmpty) {
          delivered += fresh(r.nextInt(fresh.length))._1
        } else {
          if (r.nextDouble() < GapFrac) next += 2 + r.nextInt(4)
          val spotnum = next
          next += 1
          if (r.nextInt(40) == 0) date += 120L
          val (call, callRaw) = dirtyCall(r, r.nextDouble() < DirtyCallFrac)
          val (rep, repRaw) = dirtyCall(r, r.nextDouble() < DirtyCallFrac / 4)
          val band = r.nextInt(bandHz.length)
          val mhz = (bandHz(band) + r.nextInt(200) - 100) / 1e6
          val tail: Seq[Any] = Seq(
            locator(r), java.lang.Integer.valueOf(r.nextInt(45) - 35),
            java.lang.Double.valueOf(mhz))
          val grid = locator(r)
          val rest: Seq[Any] = Seq(
            grid,
            java.lang.Integer.valueOf(r.nextInt(61)),
            java.lang.Integer.valueOf(r.nextInt(9) - 4),
            java.lang.Integer.valueOf(r.nextInt(20000)),
            java.lang.Integer.valueOf(r.nextInt(360)),
            java.lang.Integer.valueOf(bandCode(band)),
            s"2.${r.nextInt(7)}.${r.nextInt(3)}",
            java.lang.Integer.valueOf(1 + r.nextInt(4)))
          def row(c: String, rp: String): Row =
            (Seq[Any](java.lang.Long.valueOf(spotnum), java.lang.Long.valueOf(date), rp) ++
              tail.take(2) ++ Seq(tail(2), c) ++ rest).toArray
          val pair = (row(callRaw, repRaw), row(call, rep))
          fresh += pair
          delivered += pair._1
        }
      }
      previous = fresh.toIndexedSeq
      Scrape(delivered.map(json).mkString("[", ",\n", "]"), fresh.map(_._2).toSeq)
    }
  }
}
