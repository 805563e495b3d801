package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom

/** Seeded Debezium envelope lines, rendered here rather than through the
  * program's own producer so that a program change can never alter the
  * benchmark's input bytes.
  *
  * Record `seq` is a pure function of (seed, seq): four tables (one of
  * them `_audit`, whose leading underscore takes the reserved-name
  * escape), an r/c/u/d mix with Debezium image placement (`r`/`c` carry
  * only `after`, `u` both images, `d` only `before`), about 1% non-JSON
  * lines and a few non-string `email` values (both pass through
  * unchanged). `ts_ms` is the record's creation stamp: `Base + stampMs`.
  * Every line is unique (it carries `seq`), so output multisets identify
  * each record exactly once.
  */
object Envelopes {
  val Base = 1700000000000L
  val Tables = Vector("customers", "orders", "products", "_audit")
  private val Names = Vector("Alice", "Bob", "Chen", "Dana", "Emeka", "Fatima",
    "Goran", "Hiro", "Ines", "Jonas")
  private val Domains = Vector("example.com", "mail.org", "corp.net", "a@b")

  def line(seed: Long, seq: Long, stampMs: Long): String = {
    val r = new SplittableRandom(seed * 1000003L + seq)
    val ts = Base + stampMs
    val p = r.nextInt(1000)
    if (p < 10) return s"not-json{{{ seq=$seq ts_ms=$ts"
    val table = Tables(r.nextInt(100) match {
      case x if x < 45 => 0
      case x if x < 75 => 1
      case x if x < 92 => 2
      case _ => 3
    })
    val id = r.nextInt(50000)
    def image(v: Int): String = table match {
      case "customers" =>
        val email =
          if (p < 14) "42"                       // non-string: passthrough
          else if (p < 16) "null"                // non-string: passthrough
          else if (p < 30) "\"\""
          else "\"" + Names(id % 10).toLowerCase + v + "@" +
            Domains(r.nextInt(Domains.size)) + "\""
        s"""{"id":$id,"name":"${Names(id % 10)} $v","email":$email,"created_at":${ts * 1000 - v}}"""
      case "orders" =>
        s"""{"id":$id,"customer_id":${r.nextInt(50000)},"amount":${r.nextInt(100000) / 100.0},"status":"s$v"}"""
      case "products" =>
        s"""{"id":$id,"name":"p$id","price":${r.nextInt(10000) / 100.0}}"""
      case _ =>
        s"""{"id":$id,"action":"a$v","actor":"${Names(v % 10)}"}"""
    }
    val op = r.nextInt(20) match {
      case x if x < 3 => "r"
      case x if x < 11 => "c"
      case x if x < 18 => "u"
      case _ => "d"
    }
    val (before, after) = op match {
      case "r" | "c" => ("null", image(1))
      case "u" => (image(1), image(2))
      case _ => (image(1), "null")
    }
    val source = s"""{"version":"1.9.7.Final","connector":"postgresql","name":"dbserver1","ts_ms":$ts,"snapshot":"${op == "r"}","db":"inventory","schema":"public","table":"$table","txId":${seq / 8},"lsn":$seq}"""
    s"""{"before":$before,"after":$after,"source":$source,"op":"$op","ts_ms":$ts}"""
  }

  /** Render file `idx` (records `idx*rows until (idx+1)*rows`, all
    * stamped `stampMs`) into `dir`, named so names sort in index order.
    */
  def renderFile(dir: Path, seed: Long, idx: Int, rows: Int,
      stampMs: Long): Path = {
    val sb = new java.lang.StringBuilder(rows * 360)
    var k = 0
    while (k < rows) {
      sb.append(line(seed, idx.toLong * rows + k, stampMs)).append('\n')
      k += 1
    }
    val f = dir.resolve(fileName(idx))
    Files.write(f, sb.toString.getBytes(StandardCharsets.UTF_8))
    f
  }

  def fileName(idx: Int): String = f"part-$idx%08d.jsonl"

  /** Renders files `idx` (file i stamped `(i - origin) * periodMs`) of
    * `rows` lines each into `dir`, on four threads.
    */
  def renderFiles(dir: Path, seed: Long, idx: Range, rows: Int,
      periodMs: Long, origin: Int = 0): Unit = {
    Files.createDirectories(dir)
    idx.toVector.grouped(math.max(1, (idx.size + 3) / 4)).toVector
      .map(g => new Thread(() =>
        g.foreach(i => renderFile(dir, seed, i, rows, (i - origin) * periodMs))))
      .map { t => t.start(); t }.foreach(_.join())
  }

  /** One lightweight thread that moves pre-rendered files `first until
    * files` into `dest` on an open-loop schedule: file i at
    * `t0Ms + i*periodMs`, by rename, in name order. Records how late each
    * move was.
    */
  final class Feeder(staged: Path, dest: Path, first: Int, files: Int,
      periodMs: Long, val t0Ms: Long) extends Thread("perfbench-feeder") {
    setDaemon(true)
    val latenessMs = new Array[Long](files)
    override def run(): Unit = {
      var i = first
      while (i < files) {
        val due = t0Ms + i * periodMs
        var now = System.currentTimeMillis()
        while (now < due) { Thread.sleep(math.max(1L, due - now)); now = System.currentTimeMillis() }
        Files.move(staged.resolve(fileName(i)), dest.resolve(fileName(i)),
          StandardCopyOption.ATOMIC_MOVE)
        latenessMs(i) = System.currentTimeMillis() - due
        i += 1
      }
    }
  }
}
