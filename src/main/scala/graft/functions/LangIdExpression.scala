package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass language-ID over a token array — the compiled form of
  * TextAnalysisSpec's HOF reference (value-identical, equivalence-tested):
  * score(lang) = |distinct tokens ∩ markers(lang)|, detected = the
  * alphabetically-first language reaching the maximum score, "und"
  * when every score is zero.
  *
  * One pass over the tokens against a precompiled token→(lang, marker)
  * multimap (markers can belong to several languages, e.g. "la"/"de"
  * in both es and fr); per-(lang, marker) seen-flags give the DISTINCT
  * intersection semantics without materializing a distinct token set.
  */
case class LangIdExpr(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "lang_id"

  // langs sorted ascending = the tie-break order; marker lookup is a
  // multimap token -> list of (langIdx, markerIdx)
  @transient private lazy val langs: Array[String] =
    TextFunctions.langMarkers.keys.toArray.sorted
  @transient private lazy val nMarkers: Array[Int] =
    langs.map(TextFunctions.langMarkers(_).size)
  @transient private lazy val lookup: Map[UTF8String, List[(Int, Int)]] = {
    val pairs = for {
      (lang, li) <- langs.zipWithIndex.toList
      (w, wi) <- TextFunctions.langMarkers(lang).toList.zipWithIndex
    } yield UTF8String.fromString(w) -> (li, wi)
    pairs.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }

  @transient private lazy val undResult = UTF8String.fromString("und")
  @transient private lazy val langResults = langs.map(UTF8String.fromString)

  /** The scoring kernel, shared by eval and generated code (the
    * precompiled marker multimap rides in as a reference object). */
  def kernel(arr: ArrayData): UTF8String = {
    val seen = Array.tabulate(langs.length)(i => new Array[Boolean](nMarkers(i)))
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        lookup.get(arr.getUTF8String(i)) match {
          case Some(hits) => hits.foreach { case (li, wi) => seen(li)(wi) = true }
          case None => ()
        }
      }
      i += 1
    }
    var best = 0
    var bestIdx = -1
    var li = 0
    while (li < langs.length) {
      var s = 0
      var wi = 0
      while (wi < nMarkers(li)) { if (seen(li)(wi)) s += 1; wi += 1 }
      // strict > keeps the alphabetically-FIRST language on ties
      if (s > best) { best = s; bestIdx = li }
      li += 1
    }
    if (best == 0) undResult else langResults(bestIdx)
  }

  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val self = ctx.addReferenceObj("langid", this, classOf[LangIdExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.kernel($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LangIdFunctions {
  def langIdExpr(tokens: Column): Column =
    shims.column(LangIdExpr(shims.expression(tokens)))
}
