package kgbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

import graft.core.Schema._
import graft.fixtures.Fixtures
import graft.oracle.SerialOracle
import graft.synth.CorpusSynth
import graft.synth.CorpusSynth.Rng

/** Seeded input generator and oracle for the benchmark workloads.
  *
  *   Gen docs <out-dir> <workload> <seed>
  *   Gen oracle <out-dir> <workload> <seed>
  *
  * `docs` writes `docs.jsonl` (one DocRow and its DocMeta per line);
  * `oracle` writes `oracle_edges.jsonl`, the distinct (subj, pred, obj) of
  * SerialOracle.run over the same docs and the fixture gazetteer. Each
  * prints one `KGBENCH {json}` line with its time. Generation is pure, so
  * both steps see the same corpus. No SparkSession is involved; the
  * benchmark turns the docs into parquet.
  */
object Gen {

  /** Documents per workload. small_batch is CorpusSynth-shaped and small, so
    * the driver-side fixed cost dominates; value_dense is earnings-call text
    * dense in amounts, percentages and dates, so linking sees hot blocking
    * keys (every amount ends in "…lion", every percentage in "…cent").
    */
  val workloads: Map[String, Int] = Map("small_batch" -> 500, "value_dense" -> 750)

  def docs(workload: String, seed: Long): Vector[(DocRow, DocMeta)] = {
    val n = workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    workload match {
      case "small_batch" => CorpusSynth.serial(n, seed)
      case "value_dense" => (0 until n).map(i => ValueDocs.genDoc(seed, i)).toVector
    }
  }

  def str(s: String): String = {
    val b = new java.lang.StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def docJson(d: DocRow, m: DocMeta): String = {
    val spans = d.spans.map(s => s"""{"kind":${str(s.kind)},"text":${str(s.text)},""" +
      s""""media_ref":${str(s.media_ref)},"offset":${s.offset}}""").mkString("[", ",", "]")
    s"""{"doc_id":${str(d.doc_id)},"spans":$spans,"meta":{"company_name":""" +
      s"""${str(m.company_name)},"stock_code":${str(m.stock_code)},"sector":""" +
      s"""${str(m.sector)},"year":${m.year},"quarter":${str(m.quarter)},""" +
      s""""url":${str(m.url)},"token_count":${m.token_count}}}"""
  }

  private def writeLines(path: String, lines: Iterator[String]): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(path),
      StandardCharsets.UTF_8))
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  def main(args: Array[String]): Unit = {
    val Array(step, out, workload, seedArg) = args
    val t0 = System.nanoTime()
    val corpus = docs(workload, seedArg.toLong)
    step match {
      case "docs" =>
        writeLines(s"$out/docs.jsonl", corpus.iterator.map { case (d, m) => docJson(d, m) })
        println(f"""KGBENCH {"gen_s":${(System.nanoTime() - t0) / 1e9}%.3f,""" +
          s""""docs":${corpus.size}}""")
      case "oracle" =>
        val t1 = System.nanoTime()
        val oracle = SerialOracle.run(corpus)
        val oracleS = (System.nanoTime() - t1) / 1e9
        writeLines(s"$out/oracle_edges.jsonl", oracle.edges.map(t => (t.subj, t.pred, t.obj))
          .distinct.iterator.map { case (s, p, o) => s"[${str(s)},${str(p)},${str(o)}]" })
        val byType = oracle.entities.groupBy(_.tpe).view.mapValues(_.size).toSeq.sorted
          .map { case (t, n) => s"${str(t)}:$n" }.mkString("{", ",", "}")
        println(f"""KGBENCH {"oracle_s":$oracleS%.3f,"entities":$byType,""" +
          s""""dup_pairs":${oracle.dupPairs.size},"edges":${oracle.edges.size}}""")
      case other => sys.error(s"unknown step $other (docs | oracle)")
    }
  }
}

/** Earnings-call-like documents dense in figures. Amounts span four orders
  * of magnitude, percentages carry two decimals and dates span three
  * decades, so most value mentions are distinct entities that share a
  * blocking-key suffix. Revenue sentences tie amounts to organisations, so
  * linking decisions on amounts reach the committed edges.
  */
object ValueDocs {

  private def mix(seed: Long, docIdx: Long): Long = {
    var z = seed ^ ((docIdx + 1) * 0xbf58476d1ce4e5b9L)
    z = (z ^ (z >>> 31)) * 0x94d049bb133111ebL
    z ^ (z >>> 29)
  }

  private def amount(rng: Rng): String = {
    val unit = if (rng.nextInt(3) == 0) "billion" else "million"
    s"$$${1 + rng.nextInt(9999)}.${rng.nextInt(10)} $unit"
  }

  private def percent(rng: Rng): String =
    f"${rng.nextInt(100)}.${rng.nextInt(100)}%02d percent"

  private def date(rng: Rng): String =
    f"${2000 + rng.nextInt(30)}%04d-${1 + rng.nextInt(12)}%02d-${1 + rng.nextInt(28)}%02d"

  private def org(rng: Rng): String =
    Fixtures.orgAliases(rng.pick(Fixtures.orgBases))(rng.nextInt(3))

  private def sentence(rng: Rng): String = rng.nextInt(20) match {
    case n if n < 10 => s"${org(rng)} reported revenue of ${amount(rng)}."
    case 10 | 11 => s"Capital expenses were ${amount(rng)} and free cash flow was ${amount(rng)}."
    case 12 | 13 =>
      val p = Fixtures.personAliases(rng.pick(Fixtures.personBases))(rng.nextInt(2))
      s"$p joined ${org(rng)} after guiding to ${amount(rng)}."
    case 14 | 15 | 16 => s"Backlog stood at ${amount(rng)} at quarter end."
    case 17 => s"Operating margin reached ${percent(rng)} in Q${1 + rng.nextInt(4)} " +
      s"${2000 + rng.nextInt(30)}."
    case 18 => s"Gross margin was ${percent(rng)} as of ${date(rng)}."
    case _ => s"Bookings grew ${percent(rng)} year over year."
  }

  def genDoc(seed: Long, docIdx: Long): (DocRow, DocMeta) = {
    val rng = new Rng(mix(seed, docIdx))
    val docId = f"call_${docIdx}%07d"
    val spans = Vector.newBuilder[Span]
    var offset = 0
    var media = 0
    (0 until 5 + rng.nextInt(8)).foreach { _ =>
      if (rng.nextInt(10) == 0) {
        spans += Span("table", "", s"media://$docId/$media", offset)
        media += 1
        offset += 1
      } else {
        val text = (0 until 1 + rng.nextInt(3)).map(_ => sentence(rng)).mkString(" ")
        spans += Span("text", text, "", offset)
        offset += text.length + 1
      }
    }
    val s = spans.result()
    val company = rng.pick(Fixtures.orgBases)
    val meta = DocMeta(docId, company, company.split(" ").map(_.take(2).toUpperCase).mkString,
      rng.pick(Fixtures.sectors), 2000 + rng.nextInt(30), s"Q${1 + rng.nextInt(4)}",
      s"https://example.invalid/calls/$docId",
      s.map(sp => graft.text.Tok.countTokens(sp.text)).sum)
    (DocRow(docId, s), meta)
  }
}
