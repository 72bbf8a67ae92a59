package graft.util

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Train-once/serve-many artifact helper — the ONE copy of the
  * build-once plumbing every served artifact rides (VERDICT r11 item 4:
  * `Dedup.familyFlagsServed` and `Similarity`'s three model
  * materializers re-implemented this verbatim; duplicated cache-keying
  * logic is where stale-artifact bugs breed). The first caller in a
  * session materializes the payload as Parquet under the run-manifest
  * layout; every later caller's plan is a bare parquet scan with zero
  * build lineage, read through [[graft.Tables.parquet]], so its schema is
  * inferred once per artifact and a served read runs no Spark job.
  *
  * Key (ADVICE r11): name + version + canonical dataset path + a CONTENT
  * fingerprint (MD5 of file bytes) of the named input tables — mtime
  * and size alone could serve a stale artifact after a same-second
  * in-place fixture regen. Hashes are memoized per (path, size, mtime)
  * within the JVM, so each fixture file is read once per session; the
  * residual window is a same-second regen WITHIN a running session,
  * which no mtime-derived scheme can see.
  *
  * Publication (ADVICE r11): the build writes into a UNIQUE sibling tmp
  * dir (payload dirs first, `metadata.json` last) which is then ATOMIC-
  * RENAMED to `run_00000001` — latest-run discovery can never see a
  * half-written artifact, and two concurrent first consumers race on
  * the rename alone: the loser deletes its tmp build and serves the
  * winner's (identical, deterministic-build) artifact.
  *
  * The build job is NOT the plan under audit: it runs with [[Ckpt]]
  * staging force-enabled in the building THREAD ([[Ckpt.forceStaged]] —
  * no shared-session-conf mutation) even when plan-audit tooling set
  * `spark.graft.stage.disable` (iterative build lineage is unbounded
  * without truncation). Serving never changes results when the build is
  * deterministic and its columns round-trip Parquet exactly
  * (ints/longs/strings/exact doubles — the callers' contract).
  *
  * Lifecycle (VERDICT r11 item 7): artifacts are a REBUILDABLE CACHE
  * under `java.io.tmpdir`. At each first-build, sibling keys of the
  * same name+version older than [[MaxAgeMs]] and crashed `_build_`
  * leftovers older than one hour are pruned, so a long-lived box is
  * bounded by its live working set; eviction can at worst force a
  * rebuild (or fail a concurrently-reading query, never corrupt one —
  * publication is atomic and payloads are immutable once published). */
object Served {

  /** Eviction horizon for stale artifact keys: 7 days. */
  private val MaxAgeMs = 7L * 24 * 3600 * 1000

  /** (path:size:mtime) → MD5-of-bytes, memoized for the JVM's lifetime. */
  private val hashMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def md5hex(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(bytes).map(b => f"$b%02x").mkString

  private def fileHash(p: File): String =
    hashMemo.computeIfAbsent(s"${p.getAbsolutePath}:${p.length}:${p.lastModified}",
      _ => {
        val md = java.security.MessageDigest.getInstance("MD5")
        val in = new java.io.FileInputStream(p)
        try {
          val buf = new Array[Byte](1 << 20)
          var r = in.read(buf)
          while (r >= 0) {
            if (r > 0) md.update(buf, 0, r)
            r = in.read(buf)
          }
        } finally in.close()
        md.digest().map(b => f"$b%02x").mkString
      })

  private def base(name: String, version: String, d: String,
      inputs: Seq[String]): String = {
    val canon = Paths.get(d).toAbsolutePath.normalize.toString
    val prints = inputs.flatMap { t =>
      val f = new File(s"$canon/$t")
      val parts =
        if (f.isDirectory) f.listFiles().filter(_.isFile).sortBy(_.getName)
        else Array(f)
      parts.map(p => s"${p.getName}:${fileHash(p)}")
    }
    val key = md5hex((canon +: prints).mkString("|").getBytes("UTF-8"))
    s"${System.getProperty("java.io.tmpdir")}/graft_${name}_$version/$key"
  }

  private def deleteRec(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRec)
    f.delete(): Unit
  }

  /** Evict stale sibling keys and crashed build leftovers of this
    * name+version family (called only on the build path — resolution of
    * an existing artifact never lists or deletes anything). */
  private def prune(keyDir: File): Unit = {
    val parent = keyDir.getParentFile
    if (parent != null && parent.isDirectory) {
      val now = System.currentTimeMillis()
      parent.listFiles().foreach { f =>
        val isBuildLeftover = f.getName.contains("_build_")
        val horizon = if (isBuildLeftover) 3600L * 1000 else MaxAgeMs
        if (f.getAbsolutePath != keyDir.getAbsolutePath &&
          now - f.lastModified > horizon) deleteRec(f)
      }
    }
  }

  /** Build-or-serve the run DIRECTORY for callers with multi-payload
    * artifacts: `build` writes its payload dirs under the tmp run dir it
    * is handed; manifest write + atomic publish happen here. Returns the
    * published run dir. */
  def dir(s: SparkSession, name: String, version: String, d: String,
      inputs: Seq[String])(build: String => Unit): String = {
    val b = base(name, version, d, inputs)
    graft.pipeline.Pipeline.latestRun(b) match {
      case Some(p) => p.toString
      case None =>
        prune(new File(b))
        val tmp = s"${b}_build_${java.util.UUID.randomUUID}"
        Ckpt.forceStaged { build(tmp) }
        graft.pipeline.Pipeline.writeManifest(tmp,
          graft.pipeline.Pipeline.RunManifest("00000001",
            inputs.map(t => s"$d/$t")))
        val fin = Paths.get(s"$b/run_00000001")
        Files.createDirectories(fin.getParent)
        try Files.move(Paths.get(tmp), fin, StandardCopyOption.ATOMIC_MOVE)
        catch {
          case _: java.nio.file.FileSystemException
            if Files.isDirectory(fin) =>
            // a concurrent first consumer won the rename: serve theirs
            deleteRec(new File(tmp))
        }
        fin.toString
    }
  }

  /** Single-payload variant: serve `build`'s frame for dataset `d`,
    * materializing under payload dir `payload` on first use. */
  def frame(s: SparkSession, name: String, version: String, d: String,
      inputs: Seq[String], payload: String)(build: => DataFrame): DataFrame = {
    val runDir = dir(s, name, version, d, inputs) { tmp =>
      build.write.mode("overwrite").parquet(s"$tmp/$payload")
    }
    graft.Tables.parquet(s, s"$runDir/$payload")
  }

  /** Serve `build`'s result for dataset `d`, materializing on first use. */
  def apply(s: SparkSession, name: String, version: String, d: String,
      inputs: Seq[String])(build: => DataFrame): DataFrame =
    frame(s, name, version, d, inputs, "data")(build)
}
