package graft.text

import org.apache.spark.sql.functions._
import graft.SparkTestBase

class TextPrepSpec extends SparkTestBase {
  import spark.implicits._

  test("normalize: lowercase, digit+punct runs to single space, trimmed") {
    val r = Seq("Hello, World123!  GPT2 state-of-the-art!!")
      .toDF("t").select(TextPrep.normalize($"t").as("n")).head.getString(0)
    assert(r === "hello world gpt state of the art")
  }

  test("tokensCol drops empty tokens; filteredTokensCol drops stopwords, keeps dups") {
    val toks = Seq("The cat AND the cat!", "", "... 42 --- 7 !!").toDF("t")
      .select(TextPrep.tokensCol($"t").as("toks")).collect().map(_.getSeq[String](0))
    assert(toks.toSeq === Seq(Seq("the", "cat", "and", "the", "cat"), Seq(), Seq()))
    val r = Seq("The cat AND the cat!").toDF("t")
      .select(TextPrep.filteredTokensCol($"t").as("toks")).head.getSeq[String](0)
    assert(r === Seq("cat", "cat"))
  }

  test("ML pipeline path agrees with expression path token-for-token") {
    val df = Seq(
      (1L, "Spark SQL: fast, scalable engines!"),
      (2L, "The quick brown fox, 42 times."),
      (3L, "")).toDF("id", "text")
    val ml = TextPrep.pipelineTransform(df, Seq("text"))
      .select($"id", $"filtered_text".as("toks"))
    val expr = df.select($"id", TextPrep.filteredTokensCol($"text").as("toks"))
    val joined = ml.as("a").join(expr.as("b"), Seq("id"))
      .select($"id", $"a.toks".as("ml"), $"b.toks".as("ex")).collect()
    joined.foreach { r =>
      assert(r.getSeq[String](1) === r.getSeq[String](2), s"id=${r.getLong(0)}")
    }
  }

  test("rule lemmatizer: plural/gerund/past/exception forms") {
    assert(RuleLemmatizer.lemma("cats") === "cat")
    assert(RuleLemmatizer.lemma("running") === "run")
    assert(RuleLemmatizer.lemma("studies") === "study")
    assert(RuleLemmatizer.lemma("walked") === "walk")
    assert(RuleLemmatizer.lemma("children") === "child")
    assert(RuleLemmatizer.lemma("glass") === "glass")   // -ss not a plural
    assert(RuleLemmatizer.lemma("analysis") === "analysis") // -is kept
    // undoubling keeps legitimate l/s/z doubles, strips the rest
    assert(RuleLemmatizer.lemma("falling") === "fall")
    assert(RuleLemmatizer.lemma("passing") === "pass")
    assert(RuleLemmatizer.lemma("stopped") === "stop")
    // regular -ying verbs strip to -y; the irregulars are exceptions
    assert(RuleLemmatizer.lemma("studying") === "study")
    assert(RuleLemmatizer.lemma("dying") === "die")
  }

  test("LemmatizeTokens expression == Scala-side lemma map, null-safe, codegen'd") {
    val df = Seq(
      (1L, Seq("cats", "running", "studies", "children", "glass")),
      (2L, Seq.empty[String]),
      (3L, null.asInstanceOf[Seq[String]])).toDF("id", "toks")
    val out = df.select($"id", RuleLemmatizer($"toks").as("l"))
    val got = out.collect().map(r => r.getLong(0) -> Option(r.getSeq[String](1))).toMap
    assert(got(1L).get === Seq("cat", "run", "study", "child", "glass"))
    assert(got(2L).get === Seq.empty)
    assert(got(3L).isEmpty) // null array passes through
    // stays inside whole-stage codegen (no ScalaUDF / encoder boundary)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("POS mapping matches the reference's get_wordnet_pos exactly") {
    // lab2.py:102–114: J*→a, V*→v, N*→n, R*→r, default n
    assert(LemmaRules.treebankToWordnet("JJ") === 'a')
    assert(LemmaRules.treebankToWordnet("JJR") === 'a')
    assert(LemmaRules.treebankToWordnet("VBG") === 'v')
    assert(LemmaRules.treebankToWordnet("NN") === 'n')
    assert(LemmaRules.treebankToWordnet("NNS") === 'n')
    assert(LemmaRules.treebankToWordnet("RB") === 'r')
    assert(LemmaRules.treebankToWordnet("DT") === 'n') // default noun
    assert(LemmaRules.treebankToWordnet("") === 'n')
  }

  test("POS-aware lemmatizer gates detachment rules by tag") {
    // verbs: -ing/-ed strip; the -ly adverb passes through untouched
    assert(PosAwareLemmatizer.lemma("running") === "run")
    assert(PosAwareLemmatizer.lemma("walked") === "walk")
    assert(PosAwareLemmatizer.lemma("quickly") === "quickly")
    // default-noun words get only noun rules: plural strips, -er does NOT
    // (comparative handling requires an adjective tag)
    assert(PosAwareLemmatizer.lemma("vectors") === "vector")
    assert(PosAwareLemmatizer.lemma("cluster") === "cluster")
    // exceptions dominate tagging
    assert(PosAwareLemmatizer.lemma("children") === "child")
    // undoubling in the POS path too
    assert(PosAwareLemmatizer.lemma("falling") === "fall")
    // -er/-est detachment needs an EXPLICIT adjective tag (the suffix
    // is too ambiguous for the heuristic tagger: cluster, paper, water)
    assert(LemmaRules.lemmaPos("bigger", 'a') === "big")
    assert(PosAwareLemmatizer.lemma("paper") === "paper")
    // column path runs codegen'd, like the plain rule lemmatizer
    val out = Seq(Seq("running", "vectors", "quickly")).toDF("toks")
      .select(PosAwareLemmatizer($"toks").as("l"))
    assert(out.head.getSeq[String](0) === Seq("run", "vector", "quickly"))
    assert(!out.queryExecution.executedPlan.toString.contains("ScalaUDF"))
  }

  test("identity lemmatizer is a no-op on columns") {
    val r = Seq(Seq("cats", "ran")).toDF("toks")
      .select(IdentityLemmatizer($"toks")).head.getSeq[String](0)
    assert(r === Seq("cats", "ran"))
  }
}
