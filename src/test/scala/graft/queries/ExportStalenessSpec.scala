package graft.queries

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession.withTempDir

/** The export-freshness contract: markers record a DIGEST of the source
  * listing (names, mtimes, lengths), so a regenerated corpus — even one
  * rewritten in place under the same file names, the round-5 incident
  * class a bare mtime compare misses — invalidates every derived
  * artifact (format exports, catalog table, PNG fixtures, IVF index). */
class ExportStalenessSpec extends AnyFunSuite {

  /** Runs `body` on a fresh (source dir, export dir) pair. */
  private def withDirs[T](body: (String, String) => T): T = withTempDir("staleness") { root =>
    body(Files.createDirectories(root.resolve("sf")).toString,
      Files.createDirectories(root.resolve("exp")).toString)
  }

  test("missing marker is stale; markFresh makes it fresh") {
    withDirs { (sfDir, exp) =>
      Files.write(Paths.get(sfDir, "documents.parquet"), "v1".getBytes("UTF-8"))
      assert(RelationalQueries.stale(exp, sfDir, "documents"))
      RelationalQueries.markFresh(exp, RelationalQueries.srcDigest(sfDir, "documents"))
      assert(!RelationalQueries.stale(exp, sfDir, "documents"))
    }
  }

  test("an in-place rewrite (same name, same length) is detected") {
    withDirs { (sfDir, exp) =>
      val src = Paths.get(sfDir, "documents.parquet")
      Files.write(src, "v1".getBytes("UTF-8"))
      RelationalQueries.markFresh(exp, RelationalQueries.srcDigest(sfDir, "documents"))
      // same byte length, same entry name — only the mtime moves (forced
      // forward; digests carry the FS contract's millisecond mtimes —
      // r16 ported them from java.nio nanoseconds to the Hadoop API —
      // so a same-length rewrite inside one millisecond is the blind
      // spot left, documented on srcDigest)
      Files.write(src, "v2".getBytes("UTF-8"))
      Files.setLastModifiedTime(src,
        FileTime.fromMillis(System.currentTimeMillis() + 5000))
      assert(RelationalQueries.stale(exp, sfDir, "documents"),
        "in-place rewrite with preserved name/length must invalidate the export")
    }
  }

  test("a legacy empty _SUCCESS marker reads stale exactly once") {
    withDirs { (sfDir, exp) =>
      Files.write(Paths.get(sfDir, "documents.parquet"), "v1".getBytes("UTF-8"))
      Files.write(Paths.get(exp, "_SUCCESS"), Array.emptyByteArray)
      assert(RelationalQueries.stale(exp, sfDir, "documents"))
      RelationalQueries.markFresh(exp, RelationalQueries.srcDigest(sfDir, "documents"))
      assert(!RelationalQueries.stale(exp, sfDir, "documents"))
    }
  }

  test("markers round-trip through the Hadoop FileSystem API") {
    // the r15 verdict's item 5: the stamp machinery must speak the FS
    // contract (file:// here; HDFS/S3 on a real cluster), not java.nio
    withTempDir("exp") { expPath =>
      val exp = expPath.toString
      assert(RelationalQueries.readMarker(exp).isEmpty)
      RelationalQueries.markFresh(exp, "gen-stamp:v1")
      assert(RelationalQueries.readMarker(exp) === Some("gen-stamp:v1"))
      // overwrite is a full replace, not an append
      RelationalQueries.markFresh(exp, "x")
      assert(RelationalQueries.readMarker(exp) === Some("x"))
      assert(RelationalQueries.hadoopFs(exp).getScheme === "file")
    }
  }

  test("a checksum-corrupted marker reads absent (stale/refused), never 'fresh'") {
    // the local FS is checksummed: a write that bypasses the FS API
    // (or real bit rot on a cluster) leaves the marker unreadable —
    // that must surface as the SAFE branch (rebuild/refuse), not as an
    // uncaught exception and never as a trusted stamp
    withTempDir("exp") { expPath =>
      val exp = expPath.toString
      RelationalQueries.markFresh(exp, "aaaa")
      Files.write(Paths.get(exp, "_SUCCESS"), "bbbb".getBytes("UTF-8"))
      assert(RelationalQueries.readMarker(exp).isEmpty,
        "a marker failing its FS checksum must read as absent")
      assert(RelationalQueries.staleDigest(exp, "aaaa"))
      assert(RelationalQueries.staleDigest(exp, "bbbb"))
      // re-marking through the API heals it
      RelationalQueries.markFresh(exp, "cccc")
      assert(RelationalQueries.readMarker(exp) === Some("cccc"))
    }
  }

  test("directory-shaped sources digest their part-file listing") {
    withDirs { (sfDir, exp) =>
      val tbl = Paths.get(sfDir, "embeddings.parquet")
      Files.createDirectories(tbl)
      Files.write(tbl.resolve("part-0"), "a".getBytes("UTF-8"))
      Files.write(tbl.resolve("part-1"), "b".getBytes("UTF-8"))
      RelationalQueries.markFresh(exp, RelationalQueries.srcDigest(sfDir, "embeddings"))
      assert(!RelationalQueries.stale(exp, sfDir, "embeddings"))
      // rewrite ONE part file in place; the directory's own mtime is not
      // what we rely on — the entry listing changes
      Files.write(tbl.resolve("part-1"), "c".getBytes("UTF-8"))
      Files.setLastModifiedTime(tbl.resolve("part-1"),
        FileTime.fromMillis(System.currentTimeMillis() + 5000))
      assert(RelationalQueries.stale(exp, sfDir, "embeddings"))
    }
  }
}
