package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Table-scale conversation ingest (S1/T1): a messages table
  * (conversation_id, seq, role, content) flattened to one document per
  * conversation, ready for the extraction pipeline.
  *
  * Reference semantics (src/kg_gen/kg_gen.py:176-195): keep only the
  * user/assistant turns of a `list[{role, content}]`, render each as
  * "role: content", join with newlines in list order. The reference
  * processes ONE conversation per call and relies on Python list order;
  * at table scale the order is the explicit `seq` column and every
  * conversation flattens independently in one groupBy — no driver loop,
  * no per-conversation job.
  *
  * Shuffle shape: a single hash aggregate on conversation_id. Message
  * order inside each group is restored by sorting the collected
  * (seq, line) structs — collect_list order is nondeterministic across
  * retries, array_sort is not.
  */
object Conversations {

  val KeptRoles: Seq[String] = Seq("user", "assistant")

  def flatten(messages: DataFrame): DataFrame =
    messages
      .where(col("role").isin(KeptRoles: _*))
      .select(
        col("conversation_id"),
        struct(
          col("seq"),
          concat(col("role"), lit(": "), col("content")).as("line")
        ).as("m")
      )
      .groupBy("conversation_id")
      .agg(
        array_join(
          transform(array_sort(collect_list(col("m"))), m => m.getField("line")),
          "\n"
        ).as("flattened")
      )

  /** Context-window packing of a conversation's kept turns — the
    * concat-and-cut rule ([[graft.ops.Sampling.seqPack]]'s doctrine
    * applied to dialogue), bucketed by cumulative offset: turns are laid
    * out in seq order, and each turn goes to window
    * `win = cum_before div capChars`, where `cum_before` is the rendered
    * length of the kept turns before it. A window is thus the
    * `capChars`-wide slot its turns START in, not a bound on their
    * length: its last turn can run past the cap (n_chars > capChars), a
    * short turn shares the window of a long turn that follows it when
    * both start in the same slot, and window ids skip the slots a long
    * turn spans. Turns are never split, the SFT convention. Output one
    * row per packed window: (conversation_id, win, n_turns, n_chars,
    * first_seq, last_seq) — the packing manifest an SFT batcher materializes
    * before tokenization, and n_chars/cap is the padding-waste signal.
    *
    * Shuffle shape: ONE exchange — the per-conversation running-sum
    * window and the (conversation_id, win) aggregate share the hash
    * partitioning; window ids derive from the cumulative length BEFORE
    * each turn (`cum_before div cap`), a deterministic pure function of
    * the ordered turn lengths.
    */
  def packWindows(messages: DataFrame, capChars: Int = 160): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("conversation_id")
      .orderBy("seq")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    messages
      .where(col("role").isin(KeptRoles: _*))
      // rendered length = "role: content\n" (the flatten() line + its
      // joining newline), so the cap is over exactly what ships
      .withColumn("len", (length(col("role")) + length(col("content")) + lit(3L)).cast("long"))
      .withColumn("cum_before", coalesce(sum("len").over(w), lit(0L)))
      .withColumn("win", expr(s"cum_before div $capChars"))
      .groupBy("conversation_id", "win")
      .agg(
        count(lit(1)).as("n_turns"),
        sum("len").as("n_chars"),
        min("seq").as("first_seq"),
        max("seq").as("last_seq")
      )
  }

  /** Per-conversation turn-structure stats — the filter signals an
    * SFT-data pipeline reads before a conversation enters training:
    * kept-message count, per-role counts, total content length, and
    * the number of role ALTERNATIONS in seq order (a 40-message
    * conversation with 1 switch is a monologue dump, not a dialogue).
    * Only the kept user/assistant turns count, same as [[flatten]].
    * Output: (conversation_id, n_messages, n_user, n_assistant,
    * content_chars, n_switches).
    *
    * Shuffle shape: ONE exchange — the per-conversation lag() window
    * and the same-key aggregate share the hash partitioning, so the
    * groupBy adds no second Exchange.
    */
  def stats(messages: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("conversation_id")
      .orderBy("seq")
    messages
      .where(col("role").isin(KeptRoles: _*))
      .withColumn("prev_role", lag(col("role"), 1).over(w))
      .groupBy("conversation_id")
      .agg(
        count(lit(1)).as("n_messages"),
        count(when(col("role") === "user", lit(1))).as("n_user"),
        count(when(col("role") === "assistant", lit(1))).as("n_assistant"),
        sum(length(col("content"))).cast("long").as("content_chars"),
        count(
          when(col("prev_role").isNotNull && col("role") =!= col("prev_role"), lit(1))
        ).as("n_switches")
      )
  }
}
