package graft.io

import java.nio.file.{Files, Paths}
import java.time.LocalDate

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.jobs.{CollectJob, FeatureEngineeringJob, VersionedPipeline}
import graft.pipeline.{Payloads, Schemas}
import graft.sources.FixtureApiClient

/** The DVC-equivalent layer (`.dvc/config:1-6`) and the two-workflow
  * orchestration chain (`raw_data_collection.yml` → `data_engineering.yml`)
  * — round-trips, idempotence, tolerate-missing pulls, and the
  * workflow_run-on-completion trigger semantics.
  */
class VersioningSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  private def write(ws: String, rel: String, text: String): Unit = {
    val p = Paths.get(ws, rel)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.writeString(p, text)
  }

  test("file artifact: add -> push -> delete -> pull restores byte-identical content") {
    val ws = tmp("vws"); val remote = tmp("vremote")
    val v = new Versioning(ws)
    write(ws, "data/raw.csv", "datetime,v\n2024-01-01,1\n")
    val ptr = v.add("data/raw.csv")
    assert(!ptr.isDir && ptr.size == Files.size(Paths.get(ws, "data/raw.csv")))
    v.push("data/raw.csv", remote)
    Files.delete(Paths.get(ws, "data/raw.csv"))
    assert(v.status("data/raw.csv") == Versioning.Missing)
    assert(v.pull("data/raw.csv", remote))
    assert(Files.readString(Paths.get(ws, "data/raw.csv")) == "datetime,v\n2024-01-01,1\n")
    assert(v.status("data/raw.csv") == Versioning.UpToDate)
  }

  test("pull into a FRESH workspace needs only the remote (the CI-runner case)") {
    val ws1 = tmp("vws"); val remote = tmp("vremote")
    val v1 = new Versioning(ws1)
    write(ws1, "a.txt", "hello")
    v1.add("a.txt"); v1.push("a.txt", remote)
    val ws2 = tmp("vws2") // new checkout, empty cache — like a fresh Actions runner
    val v2 = new Versioning(ws2)
    assert(v2.pull("a.txt", remote))
    assert(Files.readString(Paths.get(ws2, "a.txt")) == "hello")
  }

  test("unchanged artifact re-adds to the identical pointer (no-changes-to-commit)") {
    val ws = tmp("vws")
    val v = new Versioning(ws)
    write(ws, "a.txt", "same bytes")
    val p1 = v.add("a.txt")
    val p2 = v.add("a.txt")
    assert(p1 == p2)
  }

  test("status tracks drift: untracked -> up-to-date -> modified") {
    val ws = tmp("vws")
    val v = new Versioning(ws)
    write(ws, "a.txt", "v1")
    assert(v.status("a.txt") == Versioning.Untracked)
    v.add("a.txt")
    assert(v.status("a.txt") == Versioning.UpToDate)
    write(ws, "a.txt", "v2")
    assert(v.status("a.txt") == Versioning.Modified)
  }

  test("pull from an empty remote returns false and leaves the workspace untouched") {
    val ws = tmp("vws"); val remote = tmp("vremote")
    val v = new Versioning(ws)
    write(ws, "a.txt", "precious local state")
    assert(!v.pull("a.txt", remote))
    assert(Files.readString(Paths.get(ws, "a.txt")) == "precious local state")
  }

  test("directory artifact: manifest addressing, per-file blob dedup across versions") {
    val ws = tmp("vws"); val remote = tmp("vremote")
    val v = new Versioning(ws)
    write(ws, "ds/part-0.txt", "alpha")
    write(ws, "ds/sub/part-1.txt", "beta")
    write(ws, "ds/_SUCCESS", "") // Spark marker — must not affect the hash
    val p1 = v.add("ds")
    assert(p1.isDir && p1.md5.endsWith(".dir") && p1.size == 9)
    v.push("ds", remote)

    // append one file (the daily-increment case): dir hash changes,
    // unchanged file blobs are reused, push moves only the new objects
    write(ws, "ds/part-2.txt", "gamma")
    val p2 = v.add("ds")
    assert(p2.md5 != p1.md5)
    val before = countObjects(remote)
    v.push("ds", remote)
    assert(countObjects(remote) == before + 2) // new file blob + new manifest only

    // fresh workspace pulls the latest version completely
    val ws2 = tmp("vws2")
    val v2 = new Versioning(ws2)
    assert(v2.pull("ds", remote))
    assert(Files.readString(Paths.get(ws2, "ds/part-0.txt")) == "alpha")
    assert(Files.readString(Paths.get(ws2, "ds/sub/part-1.txt")) == "beta")
    assert(Files.readString(Paths.get(ws2, "ds/part-2.txt")) == "gamma")
    assert(!Files.exists(Paths.get(ws2, "ds/_SUCCESS")))
  }

  private def countObjects(remote: String): Long = {
    val md5dir = Paths.get(remote, "md5")
    if (!Files.exists(md5dir)) 0L
    else {
      val w = Files.walk(md5dir)
      try w.filter(Files.isRegularFile(_)).count() finally w.close()
    }
  }

  // ---- orchestration chain ------------------------------------------------

  val runDate: LocalDate = LocalDate.parse("2024-03-10")

  test("metadata-only directory: empty manifest round-trips without destroying the workspace") {
    // a Spark write of an empty frame leaves only _SUCCESS-style files;
    // the manifest is then EMPTY, and pull used to delete the workspace
    // copy and crash on the never-created staging dir
    val ws = tmp("vws"); val remote = tmp("vremote")
    val v = new Versioning(ws)
    write(ws, "data/empty_ds/_SUCCESS", "")
    write(ws, "data/empty_ds/.crc", "x")
    val ptr = v.add("data/empty_ds")
    assert(ptr.isDir)
    v.push("data/empty_ds", remote)
    // pull over the EXISTING workspace copy must swap cleanly...
    assert(v.pull("data/empty_ds", remote))
    assert(Files.isDirectory(Paths.get(ws, "data/empty_ds")))
    // ...and into a fresh workspace too
    val ws2 = tmp("vws2")
    val v2 = new Versioning(ws2)
    assert(v2.pull("data/empty_ds", remote))
    assert(Files.isDirectory(Paths.get(ws2, "data/empty_ds")))
  }

  test("files under hidden/underscore DIRECTORIES stay out of the manifest") {
    // a crashed Spark write leaves _temporary/.../part-*.parquet whose leaf
    // name looks like data; hashing it would break "identical data hashes
    // identically" and ship in-flight temp files on pull
    val ws = tmp("vws")
    val v = new Versioning(ws)
    write(ws, "data/ds/part-00000.csv", "a,b\n1,2\n")
    val clean = v.add("data/ds")
    write(ws, "data/ds/_temporary/0/attempt_1/part-00001.csv", "half,written\n")
    val dirty = v.add("data/ds")
    assert(dirty.md5 == clean.md5,
      "in-flight _temporary files leaked into the directory manifest")
  }

  test("runChain: collect -> push raw -> engineering pulls + pushes engineered") {
    val ws = tmp("vws"); val rawRemote = tmp("vraw"); val engRemote = tmp("veng")
    val client = new FixtureApiClient(Payloads.all(runDate))
    val steps = VersionedPipeline.runChain(spark, client, runDate, ws, rawRemote, engRemote)
    assert(steps.forall(_.ok), steps.mkString("; "))
    assert(steps.map(_.step) == Seq("pull_raw", "collect", "add_push_raw",
      "pull_raw", "pull_engineered", "engineer", "add_push_engineered"))
    // first run: both initial pulls legitimately found nothing
    assert(steps.head.detail == "no raw data found")
    assert(steps(4).detail == "no previous engineered file found")

    // a brand-new workspace can reproduce the engineered output from remotes alone
    val ws2 = tmp("vws2")
    val v2 = new Versioning(ws2)
    assert(v2.pull(FeatureEngineeringJob.engineeredFile, engRemote))
    val eng = new Store(spark, ws2).readCsv(FeatureEngineeringJob.engineeredFile, Schemas.engineered)
    assert(eng.count() == 24)
  }

  test("runChain tolerates a failed collection: engineering still runs from the remotes") {
    val ws1 = tmp("vws"); val rawRemote = tmp("vraw"); val engRemote = tmp("veng")
    // day 1 succeeds and populates both remotes
    val ok = new FixtureApiClient(Payloads.all(runDate))
    assert(VersionedPipeline.runChain(spark, ok, runDate, ws1, rawRemote, engRemote).forall(_.ok))

    // day 2 on a FRESH runner: every API call fails -> collect step fails,
    // but engineering (workflow_run fires on completion, not success —
    // data_engineering.yml:4-8) still engineers yesterday's pulled raw
    val ws2 = tmp("vws2")
    val bad = new FixtureApiClient(Map.empty, failingUrls = Set("http"))
    val steps = VersionedPipeline.runChain(spark, bad, runDate.plusDays(1), ws2, rawRemote, engRemote)
    val byStep = steps.map(s => s.step -> s).toMap
    assert(!byStep("collect").ok)
    assert(!steps.map(_.step).contains("add_push_raw")) // failed run pushes nothing
    assert(byStep("pull_raw").detail == "restored raw_data.csv") // day 1's push
    assert(byStep("engineer").ok)
    assert(byStep("add_push_engineered").ok)
    // and the engineered artifact in the remote matches day 1's (no new raw rows)
    val v = new Versioning(ws2)
    assert(v.status(FeatureEngineeringJob.engineeredFile) == Versioning.UpToDate)
  }

  test("runChain over day files: each daily push copies one day blob and the manifest") {
    val ws = tmp("vws"); val rawRemote = tmp("vraw"); val engRemote = tmp("veng")
    def objects(remote: String): Set[java.nio.file.Path] = {
      val root = Paths.get(remote, "md5")
      if (!Files.exists(root)) Set.empty
      else {
        val s = Files.walk(root)
        try s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path]).filter(Files.isRegularFile(_)).toSet
        finally s.close()
      }
    }
    var seen = Map(rawRemote -> Set.empty[java.nio.file.Path], engRemote -> Set.empty[java.nio.file.Path])
    for (i <- 0 until 3) {
      val d = runDate.plusDays(i.toLong)
      val steps = VersionedPipeline.runChain(spark, new FixtureApiClient(Payloads.all(d)), d,
        ws, rawRemote, engRemote)
      assert(steps.forall(_.ok), steps.mkString("; "))
      for ((remote, rel) <- Seq(rawRemote -> CollectJob.rawFile,
                                engRemote -> FeatureEngineeringJob.engineeredFile)) {
        val added = objects(remote) -- seen(remote)
        val (manifests, blobs) = added.partition(_.getFileName.toString.endsWith(".dir"))
        // the one new blob is the run day's file, byte for byte
        val dayFile = {
          val s = Files.list(Paths.get(ws, rel))
          try s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
            .filter(_.getFileName.toString.startsWith(s"part-$d-")) finally s.close()
        }
        assert(manifests.size == 1 && blobs.size == 1 && dayFile.size == 1, s"$rel day $i: $added")
        assert(java.util.Arrays.equals(Files.readAllBytes(blobs.head), Files.readAllBytes(dayFile.head)),
          s"$rel day $i pushed more than its own day")
        seen += remote -> objects(remote)
      }
    }
  }

  test("collectWorkflow pull restores prior history so day-2 upsert sees day-1 rows") {
    val rawRemote = tmp("vraw"); val engRemote = tmp("veng")
    val d2 = runDate.plusDays(1)
    val ws1 = tmp("vws")
    val c1 = new FixtureApiClient(Payloads.all(runDate))
    VersionedPipeline.runChain(spark, c1, runDate, ws1, rawRemote, engRemote)
    // day 2 on a fresh workspace — history must come from the remote pull
    val ws2 = tmp("vws2")
    val c2 = new FixtureApiClient(Payloads.all(d2))
    val steps = VersionedPipeline.collectWorkflow(spark, c2, d2, ws2, rawRemote)
    assert(steps.forall(_.ok))
    val raw = new Store(spark, ws2).readCsv(CollectJob.rawFile, Schemas.raw)
    assert(raw.count() == 48) // 24 day-1 rows (pulled) + 24 day-2 rows (upserted)
  }
}
