package graft
import java.nio.file.{Files, Paths}
/** Shared plumbing for the harness ([[Verify]], [[Bench]]): one JSON
  * escape + oracle_sql.json writer (advice r8 — two drifting copies
  * before) and recursive dump deletion. */
private[graft] object VerifyIO {
  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  def jsonEscape(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def writeOracleJson(outDir: String, entries: Map[String, String]): Unit = {
    val json = entries
      .map { case (k, v) => s"${jsonEscape(k)}: ${jsonEscape(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }

  def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRec)
    f.delete()
  }

  /** JVM-scoped scratch directory: created now, recursively deleted at
    * JVM exit. EVERY session-lifetime temp layout (disk-serving riders,
    * persisted snapshots, demo streams) must come from here — bare
    * `Files.createTempDirectory` leaks the layout past the process, and
    * a day of bench/verify sessions measurably degraded the box (r19:
    * 3,853 leaked `graft_*` dirs, 7 GB, directory-heavy queries +0.5-1.4 s
    * each until /tmp was scrubbed). */
  def scratchDir(prefix: String): java.nio.file.Path = {
    val p = Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      deleteRec(p.toFile)))
    p
  }
}
