package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.frontier.FrontierStore
import graft.model.Status

/** Crash recovery for the frontier's manifest-swap protocol
  * (`FrontierStore.writeDelta`): a merge is (1) write the new delta
  * generation's parquet, (2) atomically move `_CURRENT.tmp` over
  * `_CURRENT`, (3) — on compaction only — vacuum unreferenced
  * generations. A crash between any two steps must leave the table
  * readable at a CONSISTENT version (all-old or all-new, never mixed)
  * and the next merge/vacuum must self-heal the leftovers. Each test
  * reproduces one kill point by performing the protocol's prefix by
  * hand against a store that real merges built. */
class FrontierCrashSpec extends AnyFunSuite with LocalSpark {

  private val t0 = Timestamp.valueOf("2024-01-01 00:00:00")

  private def statusRows(rows: (String, String)*) = {
    import spark.implicits._
    rows.map { case (u, s) => (u, s, Map.empty[String, Seq[String]]) }
      .toDF("url", "status", "metadata")
  }

  private def snapshot(st: FrontierStore): Set[(String, String)] =
    st.read(spark).select("url", "status").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet

  private def newStore(): (FrontierStore, String) = {
    val root = Files.createTempDirectory("frontier-crash").toString
    val st = new FrontierStore(root, numBuckets = 8)
    st.merge(spark, statusRows(
      "http://a.com/1" -> Status.Discovered,
      "http://b.com/2" -> Status.Discovered), t0)
    st.merge(spark, statusRows("http://a.com/1" -> Status.Fetched), t0)
    (st, root)
  }

  private def manifestGens(root: String): Set[String] =
    new String(Files.readAllBytes(Paths.get(root, "_CURRENT"))).linesIterator
      .filter(_.nonEmpty).map(_.split("\t")(1)).toSet

  test("crash after delta write, before _CURRENT move: reads stay on the " +
       "old version; the next merge reuses the orphan generation number") {
    val (st, root) = newStore()
    val before = snapshot(st)

    // protocol prefix: the next generation's parquet lands on disk but
    // the manifest move never happens (kill between steps 1 and 2)
    val orphanGen = manifestGens(root).map(_.stripPrefix("delta_").toInt).max + 1
    st.read(spark).write.partitionBy("bucket").mode("overwrite")
      .parquet(s"$root/delta_$orphanGen")

    assert(snapshot(st) == before,
      "an unreferenced delta must be invisible to readers")

    // self-healing: the next real merge claims the same generation
    // number (manifest-derived, not directory-derived), overwrites the
    // orphan, and its content becomes visible atomically
    st.merge(spark, statusRows("http://c.com/3" -> Status.Discovered), t0)
    val after = snapshot(st)
    assert(after == before + (("http://c.com/3", Status.Discovered)))
    assert(manifestGens(root).contains(s"delta_$orphanGen"),
      "merge after the crash must reuse the orphaned generation number")
  }

  test("crash with a half-written _CURRENT.tmp: reads unaffected, next " +
       "merge replaces the tmp file") {
    val (st, root) = newStore()
    val before = snapshot(st)
    // kill mid-step-2: tmp exists (possibly truncated garbage), the
    // atomic move never ran
    Files.write(Paths.get(root, "_CURRENT.tmp"), "3\tdelta_9".getBytes)
    assert(snapshot(st) == before)
    st.merge(spark, statusRows("http://d.com/4" -> Status.Discovered), t0)
    assert(snapshot(st) == before + (("http://d.com/4", Status.Discovered)))
    assert(!Files.exists(Paths.get(root, "_CURRENT.tmp")),
      "the atomic move consumes the tmp file")
  }

  test("crash after _CURRENT move, before vacuum: reads serve the new " +
       "version; vacuum() cleans the unreferenced generations") {
    val (st, root) = newStore()
    // several more merges build up history, then compact's writeDelta
    // lands and the manifest now references ONLY the compacted
    // generation — the crash happens before vacuum (between 2 and 3)
    st.merge(spark, statusRows("http://e.com/5" -> Status.Discovered), t0)
    val before = snapshot(st)
    st.compact(spark) // compact = writeDelta + vacuum …
    // … so recreate the pre-vacuum state: put back two fake stale dirs
    // a crashed vacuum would have left
    for (g <- Seq("delta_90", "delta_91")) {
      Files.createDirectories(Paths.get(root, g))
      Files.write(Paths.get(root, g, "junk.parquet"), Array[Byte](1, 2, 3))
    }
    assert(snapshot(st) == before,
      "stale unreferenced generations must not affect reads")
    st.vacuum()
    assert(!Files.exists(Paths.get(root, "delta_90")) &&
      !Files.exists(Paths.get(root, "delta_91")),
      "vacuum must delete every unreferenced generation, junk included")
    assert(snapshot(st) == before)
    val referenced = manifestGens(root)
    val onDisk = Files.list(Paths.get(root)).toArray.map(_.toString)
      .map(p => Paths.get(p).getFileName.toString)
      .filter(_.startsWith("delta_")).toSet
    assert(onDisk == referenced, "post-vacuum disk state == manifest")
  }

  test("torn read impossible: a reader holding the old manifest still " +
       "sees a complete old version after a concurrent merge lands") {
    val (st, root) = newStore()
    val before = snapshot(st)
    // reader A captures the manifest (simulated: copy _CURRENT aside)
    val held = Paths.get(root, "_CURRENT.held")
    Files.copy(Paths.get(root, "_CURRENT"), held)
    // a merge swaps in a new generation (it does NOT vacuum, so the
    // old generation's files are still on disk for reader A)
    st.merge(spark, statusRows("http://f.com/6" -> Status.Fetched), t0)
    // reader A's view: restore its held manifest into a scratch store
    val scratch = Files.createTempDirectory("frontier-held").toString
    Files.createDirectories(Paths.get(scratch))
    val listing = Files.list(Paths.get(root))
    try {
      val it = listing.iterator()
      while (it.hasNext) {
        val p = it.next()
        if (p.getFileName.toString.startsWith("delta_")) {
          val walk = Files.walk(p)
          try walk.forEach { f =>
            val rel = Paths.get(root).relativize(f)
            val dst = Paths.get(scratch).resolve(rel)
            if (Files.isDirectory(f)) Files.createDirectories(dst)
            else Files.copy(f, dst, StandardCopyOption.REPLACE_EXISTING)
          } finally walk.close()
        }
      }
    } finally listing.close()
    Files.copy(held, Paths.get(scratch, "_CURRENT"))
    assert(snapshot(new FrontierStore(scratch, numBuckets = 8)) == before,
      "the held (pre-merge) manifest must resolve to the complete old version")
  }
}
