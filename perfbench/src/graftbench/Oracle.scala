package graftbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** DuckDB oracle (perfbench/oracle.py): `expect` starts the catalog's
  * oracle SQL over the generated tables in the background, `await` waits
  * for its answers, and `compare` checks Spark result directories against
  * them in the correctness gate. */
final class Oracle(python: String, script: String, dir: String) {
  @volatile private var ready = false
  private var running: Thread = _

  private def call(args: String*): Seq[String] = {
    val pb = new ProcessBuilder((Seq(python, script) ++ args).asJava)
      .redirectError(ProcessBuilder.Redirect.INHERIT)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    val code = p.waitFor()
    if (code != 0) throw new RuntimeException(s"oracle.py ${args.head} exited $code")
    out.linesIterator.toSeq
  }

  private def writeJson(name: String, kv: Map[String, String]): String = {
    Files.createDirectories(Paths.get(dir))
    val path = s"$dir/$name"
    Files.writeString(Paths.get(path),
      Json.obj(kv.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }))
    path
  }

  def expect(dataDir: String, sql: Map[String, String]): Unit = {
    val sqlJson = writeJson("sql.json", sql)
    running = new Thread(() => {
      try { call("expect", dataDir, sqlJson, s"$dir/expected"); ready = true }
      catch { case e: Throwable => System.err.println(s"[bench] oracle failed: ${e.getMessage}") }
    })
    running.start()
  }

  def await(): Unit = if (running != null) running.join()

  /** result name -> "ok" or the first difference. */
  def compare(outs: Map[String, String]): Map[String, String] =
    if (!ready) outs.map { case (k, _) => k -> "oracle answers missing" }
    else call("compare", s"$dir/expected", writeJson("outs.json", outs))
      .flatMap(_.split("\t", 2) match {
        case Array(k, v) => Some(k -> v)
        case _ => None
      }).toMap
}
