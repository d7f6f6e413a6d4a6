package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import IndexLifecycle.{Generation, Policy}

/** The pure half of [[IndexLifecycle]]: retention, the stamp parser, the
  * compaction skip decision, the auto-compaction thresholds, settings
  * parsing and the delete-settle loop — no SparkSession anywhere.
  */
class IndexLifecyclePolicySpec extends AnyFunSuite {

  private val now  = 1000L * 3600 * 1000 // hour 1000, in ms
  private val hour = 3600L * 1000
  private def gen(id: String, stamp: Option[Long], ageHours: Long) =
    new Generation(id, stamp, now - ageHours * hour)
  // a touch lookup that must never run
  private def untouchable(id: String, stamp: Option[Long]) =
    new Generation(id, stamp, fail(s"touchedMs of $id evaluated"))

  test("retention: superseded generations go once aged past gcStaleHours") {
    val gens = Seq(gen("g0", Some(0), 30), gen("g1", Some(1), 25),
      gen("g2", Some(2), 2), gen("g3", Some(3), 0))
    val drop = Policy(gcStaleHours = 24, maxStaleGenerations = 10)
      .toRetire(gens, Some("g3"), Set.empty, now)
    assert(drop == Set("g0", "g1"))
    // the boundary is inclusive: touched exactly gcStaleHours ago is aged
    assert(Policy(gcStaleHours = 24).toRetire(
      Seq(gen("a", Some(1), 24), gen("b", Some(2), 0)), Some("b"), Set.empty, now)
      == Set("a"))
  }

  test("retention: the count bound drops the oldest superseded regardless of age") {
    val gens = (0L to 6L).map(i => gen(s"g$i", Some(i), 0))
    val p = Policy(gcStaleHours = 24, maxStaleGenerations = 2)
    assert(p.toRetire(gens, Some("g6"), Set.empty, now) ==
      Set("g0", "g1", "g2", "g3"))
    // a protected superseded generation spends one of the K slots:
    // g5 (protected) and g4 stand
    assert(p.toRetire(gens, Some("g6"), Set("g5"), now) ==
      Set("g0", "g1", "g2", "g3"))
    // K <= 0 disables the count bound: only the age gate applies
    assert(Policy(maxStaleGenerations = 0).toRetire(gens, Some("g6"), Set.empty, now)
      .isEmpty)
    // the order is NUMERIC: g998/g999 are older than g1000, not newer
    val widths = Seq(gen("cells.g998", Some(998), 0),
      gen("cells.g999", Some(999), 0), gen("cells.g1000", Some(1000), 0))
    assert(Policy(maxStaleGenerations = 1)
      .toRetire(widths, Some("cells.g1000"), Set.empty, now) == Set("cells.g998"))
  }

  test("retention: the active generation and the protected set always stay") {
    val gens = Seq(gen("g1", Some(1), 100), gen("g2", Some(2), 100),
      gen("g3", Some(3), 100))
    assert(Policy(gcStaleHours = 24).toRetire(gens, Some("g3"), Set("g2"), now) ==
      Set("g1"))
    assert(Policy(gcStaleHours = 0).toRetire(gens, Some("g3"), Set("g2"), now) ==
      Set("g1"))
  }

  test("retention: a generation stamped above the active one is age-gated, never count-forced") {
    // a live rewrite in another process that has not promoted yet
    val gens = Seq(gen("g1", Some(1), 0), gen("g2", Some(2), 0),
      gen("g9", Some(9), 0))
    val p = Policy(gcStaleHours = 24, maxStaleGenerations = 1)
    assert(p.toRetire(gens, Some("g2"), Set.empty, now).isEmpty)
    assert(Policy(gcStaleHours = 24, maxStaleGenerations = 0)
      .toRetire(gens, Some("g2"), Set.empty, now).isEmpty)
    // once aged it goes like any other leftover
    assert(p.toRetire(gens :+ gen("g8", Some(8), 30), Some("g2"), Set.empty, now) ==
      Set("g8"))
  }

  test("retention: an unparseable name is age-gated only, never count-forced") {
    val gens = Seq(gen("cells", Some(0), 0), gen("cells.g5", Some(5), 0),
      gen("cells.old1", None, 0), gen("cells.compact2", None, 30),
      gen("cells.g7", Some(7), 0))
    assert(Policy(gcStaleHours = 24, maxStaleGenerations = 1)
      .toRetire(gens, Some("cells.g7"), Set.empty, now) ==
      Set("cells", "cells.compact2"))
  }

  test("retention: gcStaleHours = 0 on the rebuild path drops every generation") {
    val gens = Seq(gen("", Some(0), 0), gen("_g5", Some(5), 0),
      gen("_g7", Some(7), 0), gen("_g99999999999999999999", None, 0))
    assert(Policy(gcStaleHours = 0).toRetire(gens, None, Set.empty, now) ==
      gens.map(_.id).toSet)
  }

  test("retention: last-touched is only looked up when the age gate needs it") {
    val gens = Seq(untouchable("g3", Some(3)), untouchable("g2", Some(2)),
      untouchable("g1", Some(1)), untouchable("g0", Some(0)))
    // active and protected are never aged; g1/g0 are count-forced
    assert(Policy(maxStaleGenerations = 1)
      .toRetire(gens, Some("g3"), Set("g2"), now) == Set("g1", "g0"))
    assert(Policy(gcStaleHours = 0)
      .toRetire(gens, Some("g3"), Set.empty, now) == Set("g2", "g1", "g0"))
  }

  test("one stamp parser for table suffixes and directory names") {
    import IndexLifecycle.parseStamp
    assert(parseStamp("cells", "cells", "cells.g") == Some(0L))
    assert(parseStamp("cells.g1234", "cells", "cells.g") == Some(1234L))
    assert(parseStamp("cells.old1234", "cells", "cells.g") == None)
    assert(parseStamp("cells.g", "cells", "cells.g") == None)
    assert(parseStamp("cells.g12a", "cells", "cells.g") == None)
    assert(parseStamp("cells.g" + "9" * 20, "cells", "cells.g") == None)
    assert(parseStamp("cells.g" + "9" * 19, "cells", "cells.g") == None) // > Long.MaxValue
    assert(parseStamp("cells.g" + "1" * 19, "cells", "cells.g") == Some(("1" * 19).toLong))
    assert(parseStamp("", "", "_g") == Some(0L))
    assert(parseStamp("_g42", "", "_g") == Some(42L))
    assert(parseStamp("_x42", "", "_g") == None)
    // epoch-nanos stamps are monotonic within the process
    val a = IndexLifecycle.newStamp()
    assert(IndexLifecycle.newStamp() > a)
  }

  test("compaction skip: no tombstones and no files appended since the stamp") {
    import IndexLifecycle.skipCompaction
    assert(skipCompaction(force = false, hasTombstones = false, Some(Seq(4L, 2L)), Seq(4L, 2L)))
    assert(skipCompaction(force = false, hasTombstones = false, Some(Seq(4L)), Seq(3L)))
    assert(!skipCompaction(force = true, hasTombstones = false, Some(Seq(4L)), Seq(4L)))
    assert(!skipCompaction(force = false, hasTombstones = true, Some(Seq(4L)), Seq(4L)))
    assert(!skipCompaction(force = false, hasTombstones = false, Some(Seq(4L, 2L)), Seq(4L, 3L)))
    assert(!skipCompaction(force = false, hasTombstones = false, Some(Seq(4L)), Seq(4L, 2L)))
    // no stamp (gen 0, a garbled stamp): always rewrite, never counts
    assert(!skipCompaction(force = false, hasTombstones = false, None,
      fail("file counts listed without a stamp")))
    assert(IndexLifecycle.parseCounts("12,3") == Some(Seq(12L, 3L)))
    assert(IndexLifecycle.parseCounts(" 7 ") == Some(Seq(7L)))
    assert(IndexLifecycle.parseCounts("7,x") == None)
  }

  test("thresholds: tombstone debt and files per unit, <=0 disables") {
    val p = Policy(autoCompactFilesPerUnit = 4, autoCompactTombstoneRows = 10)
    assert(p.tombstoneDebtDue(10L) && !p.tombstoneDebtDue(9L))
    assert(!Policy(autoCompactTombstoneRows = 0)
      .tombstoneDebtDue(fail("tombstones counted with the cap disabled")))
    assert(!Policy(autoCompactTombstoneRows = -1).tombstoneDebtDue(fail("counted")))
    assert(p.filesPerUnitDue(files = 32, units = 8))
    assert(!p.filesPerUnitDue(files = 31, units = 8))
    assert(!p.filesPerUnitDue(files = 5, units = 0))
    assert(!Policy(autoCompactFilesPerUnit = 0).filesPerUnitDue(1000, 1))
    assert(!Policy(autoCompactFilesPerUnit = -3).filesPerUnitDue(1000, 1))
  }

  test("settings: defaults, parsing, and the malformed-value fallback") {
    assert(Policy.from(_ => None) ==
      Policy(autoCompactFilesPerUnit = 32, autoCompactTombstoneRows = 1 << 20,
        gcStaleHours = 24, maxStaleGenerations = 4))
    val conf = Map(
      Policy.FilesPerUnitKey  -> " 8 ",
      Policy.TombstoneRowsKey -> "0",
      Policy.GcStaleHoursKey  -> "9999999999",
      Policy.MaxStaleKey      -> "-1")
    assert(Policy.from(conf.get) == Policy(8, 0, 9999999999L, -1))
    val bad = Map(
      Policy.FilesPerUnitKey  -> "thirty-two",
      Policy.TombstoneRowsKey -> "1e6",
      Policy.GcStaleHoursKey  -> "24h",
      Policy.MaxStaleKey      -> "9999999999")
    assert(Policy.from(bad.get) == Policy())
  }

  test("delete settle: re-appends to the generation that won a promote, refuses a hot loop") {
    val appended = scala.collection.mutable.ArrayBuffer.empty[String]
    // one promote lands between the first append and the re-resolve
    val script = Iterator("g1", "g2", "g2")
    assert(IndexLifecycle.settle("d", () => script.next())(appended += _) == "g2")
    assert(appended == Seq("g1", "g2"))
    // a generation that changes on every resolve never settles
    var n = 0
    val e = intercept[IllegalArgumentException] {
      IndexLifecycle.settle("delete 'x'", () => { n += 1; s"g$n" })(_ => ())
    }
    assert(e.getMessage.contains("delete 'x' could not settle"))
    assert(n == 7, "six append rounds, each followed by a re-resolve")
  }
}
