package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** Seeded input generator. Every file is a pure function of (seed, shape):
  * equal seeds give byte-identical files. Each entity draws from its own
  * `java.util.Random` stream (seed mixed with a tag), so changing one
  * shape never perturbs the others.
  *
  * Study trees follow the loader's directory convention:
  * `<root>/<label>/ClinicalDataToUpload/` (data TSV + `*_Mapping_File.txt`)
  * and `<root>/<label>/ExpressionDataToUpload/` (matrix, subject-sample
  * mapping, platform file). Each writer returns what the loaded warehouse
  * must contain, for the output checks. */
object Gen {

  def rng(seed: Long, tag: String): java.util.Random =
    new java.util.Random(seed * 0x9E3779B97F4A7C15L ^ tag.hashCode.toLong * 0xC2B2AE3D27D4EB4FL)

  def write(p: Path, s: String): Long = {
    Files.createDirectories(p.getParent)
    val b = s.getBytes(UTF_8)
    Files.write(p, b)
    b.length.toLong
  }

  // ------------------------------------------------------------ clinical

  /** A clinical study shape: `numeric` + `categorical` value columns per
    * visit row, one row per (subject, visit). */
  final case class Clinical(trial: String, label: String, subjects: Int,
                            visits: Int, numeric: Int, categorical: Int) {
    def cells: Long = subjects.toLong * visits * (numeric + categorical)
  }

  /** What an upload of the study must leave in the warehouse. `leaves`
    * holds a few concept paths with their expected patient counts. */
  final case class ClinicalExpect(trial: String, label: String, patients: Long,
                                  facts: Long, leaves: Seq[(String, Long)],
                                  inputBytes: Long)

  val Categories: Seq[String] = Seq("Alpha", "Bravo", "Charlie", "Delta", "Echo")

  private def panel(c: Int): String = s"Panel${('A' + c / 8).toChar}"

  def writeClinical(studyRoot: Path, c: Clinical, seed: Long,
                    parent: String = "\\Public Studies"): ClinicalExpect = {
    val r = rng(seed, s"clinical:${c.trial}:${c.label}")
    val dir = studyRoot.resolve(c.label).resolve("ClinicalDataToUpload")
    val dataFile = s"${c.trial}_clinical.txt"
    val multi = c.visits > 1
    val numNames = (1 to c.numeric).map(i => f"Measure$i%02d")
    val catNames = (1 to c.categorical).map(i => f"Trait$i%02d")
    val visitNames = (1 to c.visits).map(v => s"Week $v")

    val head = Seq("STUDY_ID", "SUBJ_ID") ++ (if (multi) Seq("VISIT_NAME") else Nil) ++
      numNames ++ catNames
    val data = new StringBuilder(head.mkString("", "\t", "\n"))
    // (column, category value, visit) -> patients carrying it
    val catCounts = scala.collection.mutable.HashMap.empty[(Int, String, Int), Long]
    for (s <- 1 to c.subjects; v <- 1 to c.visits) {
      data.append(c.trial).append('\t').append(f"SUBJ$s%05d")
      if (multi) data.append('\t').append(visitNames(v - 1))
      for (_ <- numNames)
        data.append('\t').append(1 + r.nextInt(999)).append('.').append(r.nextInt(10))
      for (k <- catNames.indices) {
        val value = Categories(r.nextInt(2 + k % 4))
        catCounts((k, value, v)) = catCounts.getOrElse((k, value, v), 0L) + 1
        data.append('\t').append(value)
      }
      data.append('\n')
    }
    val map = new StringBuilder(
      "filename\tcategory_cd\tcol_nbr\tdata_label\tdata_label_source\tvariable_type\tvalidation_rules\n")
    map.append(s"$dataFile\t\t1\tSTUDY_ID\t\t\t\n")
    map.append(s"$dataFile\t\t2\tSUBJ_ID\t\t\t\n")
    if (multi) map.append(s"$dataFile\t\t3\tVISIT_NAME\t\t\t\n")
    val first = if (multi) 4 else 3
    numNames.zipWithIndex.foreach { case (n, i) =>
      map.append(s"$dataFile\tMeasurements+${panel(i)}\t${first + i}\t$n\t\t\t\n")
    }
    catNames.zipWithIndex.foreach { case (n, i) =>
      map.append(s"$dataFile\tTraits+${panel(i)}\t${first + c.numeric + i}\t$n\t\t\t\n")
    }
    val bytes = write(dir.resolve(dataFile), data.toString) +
      write(dir.resolve(s"${c.trial}_Mapping_File.txt"), map.toString)

    // leaf paths: numeric  top\cat\label[\visit]\ ;
    //             category top\cat\label\value[\visit]\
    val top = s"$parent\\${c.label}\\"
    def visitPart(v: Int) = if (multi) s"${visitNames(v - 1)}\\" else ""
    val leaves = Seq.newBuilder[(String, Long)]
    if (c.numeric > 0)
      leaves += (s"${top}Measurements\\${panel(0)}\\${numNames(0)}\\${visitPart(c.visits)}" ->
        c.subjects.toLong)
    for (k <- catNames.indices.take(2); value <- Categories.take(1)) {
      val n = catCounts.getOrElse((k, value, 1), 0L)
      if (n > 0)
        leaves += (s"${top}Traits\\${panel(k)}\\${catNames(k)}\\$value\\${visitPart(1)}" -> n)
    }
    // one fact per (subject, visit, column) plus one SECURITY fact per patient
    ClinicalExpect(c.trial, c.label, c.subjects, c.cells + c.subjects,
      leaves.result(), bytes)
  }

  // ---------------------------------------------------------- expression

  final case class Platform(id: String, probes: Int)

  final case class Expression(trial: String, label: String, platform: Platform,
                              samples: Int)

  def platformText(p: Platform, seed: Long): String = {
    val r = rng(seed, s"platform:${p.id}")
    val sb = new StringBuilder
    sb.append(s"# PLATFORM_TITLE: Synthetic array ${p.id}\n")
    sb.append("# PLATFORM_SPECIES: Homo sapiens\n")
    sb.append("ID_REF\tGENE_SYMBOL\tENTREZ_GENE_ID\tSPECIES\n")
    for (i <- 1 to p.probes) {
      val gene = 1 + r.nextInt(p.probes * 4)
      sb.append(f"${p.id}_P$i%06d\tG$gene%06d\t$gene\tHomo sapiens\n")
    }
    sb.toString
  }

  /** Writes the matrix, subject-sample mapping and platform file; returns
    * their bytes. */
  def writeExpression(studyRoot: Path, e: Expression, seed: Long): Long = {
    val r = rng(seed, s"expression:${e.trial}")
    val dir = studyRoot.resolve(e.label).resolve("ExpressionDataToUpload")
    val samples = (1 to e.samples).map(i => f"${e.trial}_S$i%04d")
    val map = new StringBuilder(
      "STUDY_ID\tSITE_ID\tSUBJECT_ID\tSAMPLE_ID\tPLATFORM\tTISSUETYPE\tATTR1\tATTR2\tCATEGORY_CD\tSOURCE_CD\n")
    samples.zipWithIndex.foreach { case (s, i) =>
      val tissue = if (i % 2 == 0) "Blood" else "Liver"
      map.append(s"${e.trial}\t\tSUBJ${"%05d".format(i + 1)}\t$s\t${e.platform.id}\t$tissue" +
        "\t\t\tBiomarker_Data+PLATFORM+TISSUETYPE\tSTD\n")
    }
    val matrix = new StringBuilder(samples.mkString("ID_REF\t", "\t", "\n"))
    for (p <- 1 to e.platform.probes) {
      matrix.append(f"${e.platform.id}_P$p%06d")
      val base = 50 + r.nextInt(5000)
      for (_ <- samples)
        matrix.append('\t').append(base + r.nextInt(500)).append('.').append(r.nextInt(100))
      matrix.append('\n')
    }
    write(dir.resolve(s"${e.trial}_Subject_Sample_Mapping_File.txt"), map.toString) +
      write(dir.resolve(s"${e.trial}_Gene_Expression_Data_R.txt"), matrix.toString) +
      write(dir.resolve(s"${e.platform.id}.txt"), platformText(e.platform, seed))
  }

  // ------------------------------------------------------------ documents

  /** A document batch with planted duplicates: `exact` ids are verbatim
    * copies of documents already in the corpus, `near` ids are copies
    * with one word replaced. */
  final case class Batch(path: Path, size: Int, exact: Set[Long], near: Set[Long],
                         bytes: Long)

  final case class Docs(vocab: IndexedSeq[String], r: java.util.Random) {
    def doc(): String = {
      val n = 40 + r.nextInt(40)
      Iterator.fill(n)(vocab(r.nextInt(vocab.size))).mkString(" ")
    }
    def edit(text: String): String = {
      val w = text.split(' ')
      val i = r.nextInt(w.length)
      var repl = vocab(r.nextInt(vocab.size))
      while (repl == w(i)) repl = vocab(r.nextInt(vocab.size))
      w(i) = repl
      w.mkString(" ")
    }
  }

  def vocabulary(seed: Long, size: Int): IndexedSeq[String] = {
    val r = rng(seed, "vocab")
    val letters = "abcdefghijklmnoprstuvwyz"
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < size)
      seen += Iterator.fill(3 + r.nextInt(6))(letters(r.nextInt(letters.length))).mkString
    seen.toIndexedSeq
  }

  private val DocSchema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
    "message doc { required int64 doc_id; required binary text (UTF8); }")

  /** Writes (doc_id, text) rows as one parquet file with a fixed name,
    * straight through the parquet writer (no Spark job, no random part
    * file name), so equal rows give byte-identical files. */
  def writeDocs(rows: Seq[(Long, String)], dir: Path): Long = {
    Files.createDirectories(dir)
    val out = dir.resolve("part-00000.parquet")
    Files.deleteIfExists(out)
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.parquet.io.LocalOutputFile(out))
      .withType(DocSchema)
      .withConf(new org.apache.hadoop.conf.Configuration())
      .build()
    val groups = new org.apache.parquet.example.data.simple.SimpleGroupFactory(DocSchema)
    try rows.foreach { case (id, text) =>
      w.write(groups.newGroup().append("doc_id", id).append("text", text))
    } finally w.close()
    Files.size(out)
  }

  /** The corpus: documents with ids 1..size. */
  def corpusDocs(seed: Long, size: Int): IndexedSeq[(Long, String)] = {
    val docs = Docs(vocabulary(seed, 4000), rng(seed, "docs"))
    (1 to size).map(i => i.toLong -> docs.doc())
  }

  /** A batch of `size` documents with ids from (idx + 1) * 10^7: 15% copy a
    * corpus document verbatim, 15% copy one with a single word replaced,
    * the rest is fresh. */
  def writeBatch(root: Path, seed: Long, corpus: IndexedSeq[(Long, String)], size: Int,
                 idx: Int): Batch = {
    val docs = Docs(vocabulary(seed, 4000), rng(seed, s"batch-docs:$idx"))
    val pick = rng(seed, s"pick:$idx")
    val base = (idx + 1).toLong * 10000000L
    val nExact = size * 15 / 100
    val nNear = size * 15 / 100
    // distinct sources: no corpus doc is copied twice in one batch
    val sources = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (sources.size < nExact + nNear) sources += pick.nextInt(corpus.size)
    val src = sources.toIndexedSeq
    val exactRows = (0 until nExact).map(j => (base + j, corpus(src(j))._2))
    val nearRows = (0 until nNear).map(j => (base + nExact + j, docs.edit(corpus(src(nExact + j))._2)))
    val fresh = (nExact + nNear until size).map(j => (base + j, docs.doc()))
    // interleave deterministically so planted rows are not one block
    val rows = (exactRows ++ nearRows ++ fresh).toArray
    val sr = rng(seed, s"shuffle:$idx")
    for (i <- rows.indices.reverse.dropRight(1)) {
      val j = sr.nextInt(i + 1); val t = rows(i); rows(i) = rows(j); rows(j) = t
    }
    val p = root.resolve(f"batch$idx%02d")
    val bytes = writeDocs(rows.toSeq, p)
    Batch(p, size, exactRows.map(_._1).toSet, nearRows.map(_._1).toSet, bytes)
  }
}
