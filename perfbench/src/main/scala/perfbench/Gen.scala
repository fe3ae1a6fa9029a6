package perfbench

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.TextPipeline

/** Seeded inputs: the corpus (documents + embeddings in the shape graft
  * reads) and the question stream. Everything is a pure function of the
  * seed, so two runs with one seed see the same inputs.
  */
object Gen {

  /** The corpus vocabulary: gazetteer words plus filler. */
  val Vocab: IndexedSeq[String] = (TextPipeline.Gazetteer.map(_._1) ++ Seq(
    "window", "merge", "vector", "stream", "data", "small", "join", "filter",
    "big", "hash", "sort", "order", "slow", "fast", "the", "agg", "key",
    "query", "a", "scan", "batch")).distinct.toIndexedSeq

  val Langs: IndexedSeq[String] = IndexedSeq("en", "en", "en", "de", "fr", "es", "zh")
  val Sources = 20
  val Dim = graft.operators.Similarity.Dim

  /** `n` documents: uniform filler text of 44..577 chars, 5 % near
    * copies of an earlier document (suffix " dup") and a few exact
    * copies, so the dedup family has work to find.
    */
  def documents(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    val rng = new java.util.Random(seed * 7919L + 17L)
    val texts = new Array[String](n)
    val rows = (0 until n).map { i =>
      val r = rng.nextDouble()
      val text =
        if (i > 10 && r < 0.05) texts(rng.nextInt(i)) + " dup"
        else if (i > 10 && r < 0.052) texts(rng.nextInt(i))
        else {
          val target = 44 + rng.nextInt(534)
          val sb = new StringBuilder
          while (sb.length < target) {
            if (sb.nonEmpty) sb.append(' ')
            sb.append(Vocab(rng.nextInt(Vocab.size)))
          }
          sb.toString
        }
      texts(i) = text
      (i.toLong, text, Langs(rng.nextInt(Langs.size)), s"src${i % Sources}",
        text.length.toLong)
    }
    spark.createDataFrame(rows).toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** `n` unit-norm 64-dimensional embeddings with labels 0..9. */
  def embeddings(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    val rng = new java.util.Random(seed * 104729L + 3L)
    val rows = (0 until n).map { i =>
      val v = Array.fill(Dim)(rng.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat).toSeq, rng.nextInt(10))
    }
    spark.createDataFrame(rows).toDF("vec_id", "embedding", "label")
  }

  /** Writes one corpus directory (documents + embeddings parquet). */
  def writeCorpus(docs: DataFrame, vecs: DataFrame, dir: String): String = {
    docs.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    vecs.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/embeddings.parquet")
    dir
  }
}

/** One question of the serving mix: its template and Cypher text. */
final case class Question(template: String, text: String)

object Questions {
  val Templates: IndexedSeq[String] =
    IndexedSeq("lookup", "match", "expand", "path", "vector", "hybrid")

  private val byLabel: Map[String, IndexedSeq[String]] =
    TextPipeline.Gazetteer.groupBy(_._2).map { case (l, ws) => l -> ws.map(_._1).toIndexedSeq }
  private val labels = IndexedSeq("person", "organization", "location")
  private val nodeLabel = Map("person" -> "Person", "organization" -> "Organization",
    "location" -> "Location")

  /** An entity name: a bigram of same-label gazetteer words. */
  private def entity(rng: java.util.Random, label: String): String = {
    val ws = byLabel(label)
    s"${ws(rng.nextInt(ws.size))} ${ws(rng.nextInt(ws.size))}"
  }

  private def anyEntity(rng: java.util.Random): String =
    entity(rng, labels(rng.nextInt(labels.size)))

  /** A fuzzy term: a gazetteer word with one inner letter dropped. */
  private def fuzzy(rng: java.util.Random, w: String): String =
    if (w.length < 4) w
    else { val i = 1 + rng.nextInt(w.length - 2); w.substring(0, i) + w.substring(i + 1) }

  /** A question of `template`; `round` picks the match shape, so every
    * run's first round asks the same shapes whatever the seed.
    */
  def question(rng: java.util.Random, template: String, round: Int): Question = {
    val label = labels(rng.nextInt(labels.size))
    val text = template match {
      case "lookup" =>
        val ws = byLabel(label)
        val terms = Seq.fill(2)(fuzzy(rng, ws(rng.nextInt(ws.size)))).map(_ + "~0.8")
        s"CALL db.index.fulltext.queryNodes('${nodeLabel(label)}Name', " +
          s"'${terms.mkString(" AND ")}', {limit: 10}) YIELD node, score " +
          "RETURN node.uid AS uid, node.name AS name, labels(node)[0] AS label, score"
      case "match" => round % 3 match {
        case 0 =>
          "MATCH (a:Article)-[:CONTAINS]->(c:Chunk)-[:MENTIONS]->(o:Person) " +
            s"WHERE o.name IN ['${entity(rng, "person")}', '${entity(rng, "person")}'] " +
            "RETURN DISTINCT a.uid, a.title ORDER BY a.uid LIMIT 10"
        case 1 =>
          "MATCH (s:Source)-[:PUBLISHED]->(a:Article)-[:CONTAINS]->(c:Chunk)-[:MENTIONS]->(o:Organization) " +
            s"WHERE o.name IN ['${entity(rng, "organization")}'] WITH DISTINCT s RETURN count(s)"
        case _ =>
          s"MATCH (c:Chunk)-[:MENTIONS]->(o:Location) WHERE o.name = '${entity(rng, "location")}' " +
            "RETURN c.uid, c.text ORDER BY c.uid LIMIT 10"
      }
      case "expand" =>
        val e = anyEntity(rng)
        s"MATCH (e1:Entity {name: '$e'})-[r:CO_OCCURS*1..2]->(e2:Entity) " +
          s"WHERE r.weight >= ${1 + rng.nextInt(3)} AND e2.name <> '$e' " +
          "RETURN DISTINCT e2.name ORDER BY e2.name LIMIT 15"
      case "path" =>
        s"MATCH p = shortestPath((a:Entity {name:'${anyEntity(rng)}'})" +
          s"-[:CO_OCCURS*1..4]-(b:Entity {name:'${anyEntity(rng)}'})) " +
          "RETURN length(p) AS len, nodes(p) AS path"
      case "vector" => graft.cypher.CypherLite.ExVec
      case "hybrid" =>
        val kw = Seq.fill(3)(Gen.Vocab(rng.nextInt(Gen.Vocab.size))).mkString(" ")
        graft.cypher.CypherLite.ExHybrid.replace("'spark join fast'", s"'$kw'")
    }
    Question(template, text)
  }

  /** The question stream: rounds of the six templates in a fixed order
    * (so the first, coldest question is the same template in every run),
    * each round asking one seeded question of each template.
    */
  def stream(seed: Long): Iterator[Question] = {
    val rng = new java.util.Random(seed * 31L + 7L)
    Iterator.from(0).flatMap(round => Templates.map(question(rng, _, round)))
  }
}
