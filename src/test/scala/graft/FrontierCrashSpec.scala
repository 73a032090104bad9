package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.frontier.FrontierStore
import graft.model.Status

/** Crash recovery for the frontier's commit protocol
  * (`FrontierStore.writeDelta`): commit N is (1) write the generation
  * `delta_N`'s parquet, (2) write `_manifest/N.tmp` and atomically move
  * it to `_manifest/N` — the commit point — and (3) vacuum what the
  * four newest manifests no longer name. A crash
  * between any two steps must leave the table readable at a CONSISTENT
  * version (all-old or all-new, never mixed) and the next
  * merge/vacuum must self-heal the leftovers. Each test reproduces one
  * kill point by performing the protocol's prefix by hand against a
  * store that real merges built. */
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

  /** The generations the latest manifest names. */
  private def manifestGens(st: FrontierStore): Set[String] =
    new String(Files.readAllBytes(Paths.get(st.root, "_manifest", st.version.toString)))
      .linesIterator.filter(_.nonEmpty).map(_.split("\t")(1)).toSet

  test("crash after delta write, before the manifest commit: reads stay on " +
       "the old version; the next merge reuses the orphan generation number") {
    val (st, root) = newStore()
    val before = snapshot(st)

    // protocol prefix: the next generation's parquet lands on disk but
    // the manifest create never happens (kill between steps 1 and 2)
    val orphanGen = st.version + 1
    st.read(spark).write.partitionBy("bucket").mode("overwrite")
      .parquet(s"$root/delta_$orphanGen")

    assert(snapshot(st) == before,
      "an unreferenced delta must be invisible to readers")

    // self-healing: the next real merge claims the same generation
    // number (the next version's), overwrites the orphan, and its
    // content becomes visible atomically
    st.merge(spark, statusRows("http://c.com/3" -> Status.Discovered), t0)
    val after = snapshot(st)
    assert(after == before + (("http://c.com/3", Status.Discovered)))
    assert(manifestGens(st).contains(s"delta_$orphanGen"),
      "merge after the crash must reuse the orphaned generation number")
  }

  test("crash with a half-written manifest tmp file: reads unaffected, next " +
       "merge replaces the tmp file") {
    val (st, root) = newStore()
    val before = snapshot(st)
    // kill mid-step-2: tmp exists (possibly truncated garbage), the
    // atomic move never ran
    val tmp = Paths.get(root, "_manifest", s"${st.version + 1}.tmp")
    Files.write(tmp, "3\tdelta_9".getBytes)
    assert(snapshot(st) == before)
    st.merge(spark, statusRows("http://d.com/4" -> Status.Discovered), t0)
    assert(snapshot(st) == before + (("http://d.com/4", Status.Discovered)))
    assert(!Files.exists(tmp), "the atomic move consumes the tmp file")
  }

  test("crash after the manifest commit, before vacuum: reads serve the new " +
       "version; vacuum() cleans the unreferenced generations") {
    val (st, root) = newStore()
    // several more merges build up history, then compact's writeDelta
    // lands and the manifest now references ONLY the compacted
    // generation — the crash happens before vacuum (between 2 and 3)
    st.merge(spark, statusRows("http://e.com/5" -> Status.Discovered), t0)
    val before = snapshot(st)
    st.compact(spark) // compact = a commit, so writeDelta + vacuum …
    // … so recreate the pre-vacuum state: put back two fake stale dirs
    // and a stale tmp file a crashed vacuum would have left
    for (g <- Seq("delta_90", "delta_91")) {
      Files.createDirectories(Paths.get(root, g))
      Files.write(Paths.get(root, g, "junk.parquet"), Array[Byte](1, 2, 3))
    }
    val staleTmp = Paths.get(root, "_manifest", "2.tmp")
    Files.write(staleTmp, "0\tdelta_2".getBytes)
    assert(snapshot(st) == before,
      "stale unreferenced generations must not affect reads")
    st.vacuum()
    assert(!Files.exists(Paths.get(root, "delta_90")) &&
      !Files.exists(Paths.get(root, "delta_91")),
      "vacuum must delete every unreferenced generation, junk included")
    assert(!Files.exists(staleTmp), "vacuum must delete stale tmp files")
    assert(snapshot(st) == before)
    val referenced = new java.io.File(root, "_manifest").list().flatMap(v =>
      new String(Files.readAllBytes(Paths.get(root, "_manifest", v)))
        .linesIterator.filter(_.nonEmpty).map(_.split("\t")(1))).toSet
    val onDisk = Files.list(Paths.get(root)).toArray.map(_.toString)
      .map(p => Paths.get(p).getFileName.toString)
      .filter(_.startsWith("delta_")).toSet
    assert(onDisk == referenced, "post-vacuum disk state == the kept manifests")
  }

  test("torn read impossible: a reader holding the old manifest still " +
       "sees a complete old version after a concurrent merge lands") {
    val (st, _) = newStore()
    val before = snapshot(st)
    val held = st.version // reader A holds the pre-merge version
    // a merge commits a new version (its vacuum keeps the four newest
    // versions, so the old generation's files are still on disk for
    // reader A)
    st.merge(spark, statusRows("http://f.com/6" -> Status.Fetched), t0)
    assert(snapshot(st) != before)
    val heldRows = st.read(spark, held).select("url", "status").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(heldRows == before,
      "the held (pre-merge) version must resolve to the complete old version")
  }
}
