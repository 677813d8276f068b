package graft

import java.io.{BufferedReader, File, InputStreamReader}
import java.nio.file.Files
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.vortex.{ConcurrentMaintenanceException, MaintenanceLock}

/** The lease file protocol on the local scheme: one exclusive create
  * decides a race between processes, and the lease's reads and deletes
  * never go through Hadoop's checksum files. */
class MaintenanceLockSpec extends AnyFunSuite {
  private def fs: FileSystem = FileSystem.getLocal(new Configuration())

  private def tmp(): String =
    Files.createTempDirectory("vortex_lease").toString

  test("a lease held by another process makes acquire fail until that process releases it") {
    val dir = tmp()
    val java = new File(System.getProperty("java.home"), "bin/java").getPath
    val err = File.createTempFile("lease_holder", ".err")
    val child = new ProcessBuilder(java, "-Xmx128m", "-XX:+UseSerialGC",
      "-cp", System.getProperty("java.class.path"), LeaseHolderMain.getClass.getName.stripSuffix("$"), dir)
      .redirectError(err).start()
    val out = new BufferedReader(new InputStreamReader(child.getInputStream, "UTF-8"))
    def childLine(): String = {
      val line = scala.concurrent.Future(out.readLine())(scala.concurrent.ExecutionContext.global)
      val l = try scala.concurrent.Await.result(line, scala.concurrent.duration.Duration(60, "s"))
        catch { case e: Exception => child.destroyForcibly(); throw e }
      assert(l != null, s"lease holder exited: ${new String(Files.readAllBytes(err.toPath), "UTF-8")}")
      l
    }
    try {
      val held = childLine()
      assert(held.startsWith("held "), held)
      val e = intercept[ConcurrentMaintenanceException] {
        MaintenanceLock.acquire(fs, new Path(dir), "test")
      }
      assert(e.getMessage.contains(held.stripPrefix("held ")), e.getMessage)
      child.getOutputStream.write("release\n".getBytes("UTF-8"))
      child.getOutputStream.flush()
      assert(childLine() == "released")
      assert(child.waitFor() == 0)
      MaintenanceLock.acquire(fs, new Path(dir), "test").release()
      assert(!new File(dir, ".vortex-maint.lock").exists())
    } finally {
      child.destroyForcibly()
      err.delete()
    }
  }

  test("a stale checksum file beside the lease does not stop release from deleting it") {
    val dir = tmp()
    val lock = new Path(dir, ".vortex-maint.lock")
    val lockFile = new File(dir, ".vortex-maint.lock")
    // a lease written through the checksummed local file system leaves
    // its checksum beside it; deleting only the lease leaves that stale
    val out = fs.create(lock, true)
    out.write("""{"id":"earlier-holder","ts":0}""".getBytes("UTF-8")); out.close()
    val crc = fs.asInstanceOf[ChecksumFileSystem].getChecksumFile(lock)
    Files.delete(lockFile.toPath)
    assert(fs.exists(crc))
    val lease = MaintenanceLock.acquire(fs, new Path(dir), "a")
    // the trap: the fresh lease read through the checksummed file system
    // fails on the stale checksum
    intercept[org.apache.hadoop.fs.ChecksumException] {
      val in = fs.open(lock)
      try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in) finally in.close()
    }
    lease.release()
    assert(!lockFile.exists(), "release must delete the lease")
    MaintenanceLock.acquire(fs, new Path(dir), "b").release()
    assert(!lockFile.exists())
  }

  test("acquiring a free lease on the local file system does not wait") {
    val dir = tmp()
    val root = new Path(dir)
    MaintenanceLock.acquire(fs, root, "warm").release()
    // 20 uncontended acquisitions: a 25 ms settle in each would take 500 ms
    val t0 = System.nanoTime()
    (0 until 20).foreach(i => MaintenanceLock.acquire(fs, root, s"t$i").release())
    val ms = (System.nanoTime() - t0) / 1000000L
    assert(ms < 500L, s"20 acquisitions took $ms ms")
  }
}

/** Holds a dataset's maintenance lease in its own JVM: prints
  * `held <id>` once it holds the lease at `args(0)`, releases it when a
  * line arrives on stdin, then prints `released`. */
object LeaseHolderMain {
  def main(args: Array[String]): Unit = {
    val lease = MaintenanceLock.acquire(FileSystem.getLocal(new Configuration()),
      new Path(args(0)), "holder")
    println(s"held ${lease.id}")
    Console.out.flush()
    scala.io.StdIn.readLine()
    lease.release()
    println("released")
    Console.out.flush()
  }
}
