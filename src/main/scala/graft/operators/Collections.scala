package graft.operators

import graft.functions.Hashes
import graft.operators.Checkpoints.Cuttable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The composed collection pipeline — the reference end-to-end
  * (collection-templates: parse → validate members against the type
  * hierarchy → enrich/rank → merge same-name collections → shape the
  * final documents), as one library call over the individual
  * operators. Each stage is the same DataFrame transformation the
  * standalone queries exercise, so the whole flow stays one Catalyst
  * plan (plus the closure's iterative jobs) and inherits their scale
  * posture: closure joins iterate on checkpoints, the member join
  * broadcasts when entities are dim-sized, ranking runs through the
  * WindowGroupLimit pushdown, and the final aggregation is map-side
  * combinable.
  */
object Collections {

  /** Rank defaults for externally-curated custom collections
    * (reference: load_custom_collections.py:113-114 —
    * DEFAULT_COLLECTION_RANK / DEFAULT_MEMBER_RANK). */
  val DefaultCollectionRank = 1000000L
  val DefaultMemberRank = 10000000L

  /** Schema of one custom-collections JSONL line — the externally
    * curated inlet (reference: load_custom_collections.py, the
    * custom-collections S3 JSONL): `data` carries the collection
    * fields and the label list (each label has `normalized_label`
    * and/or `tokenized_label`), `commands` the curator knobs
    * (member_rank, collection_rank, sort_labels). `_corrupt` captures
    * unparseable lines under PERMISSIVE mode. */
  val customSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "data STRUCT<collection_id: STRING, collection_name: STRING, " +
        "collection_description: STRING, collection_keywords: ARRAY<STRING>, " +
        "labels: ARRAY<STRUCT<label: STRING, normalized_label: STRING, " +
        "tokenized_label: ARRAY<STRING>>>>, " +
        "commands STRUCT<member_rank: BIGINT, collection_rank: BIGINT, " +
        "sort_labels: STRING>, " +
        "_corrupt STRING")

  /** Shape raw custom-collections JSONL lines into one typed row per
    * collection (reference: prepare_custom_collection,
    * load_custom_collections.py:184-336):
    *
    *  - labels with NEITHER `normalized_label` nor `tokenized_label`
    *    are skipped (:201-203, counted in `n_skipped`);
    *  - a missing `normalized_label` defaults to the concatenated
    *    tokens (:205-206); a missing `tokenized_label` to the
    *    tokenization of the normalized name (:207-208) through the
    *    same emoji-aware tokenizer the reference's tokenize_name uses
    *    ([[graft.functions.Text.emojiTokenRe]] — emoji survive as
    *    tokens, text splits on the reference's `[a-zA-Z0-9']+` rule;
    *    the wordninja dictionary split is model-dependent and out of
    *    engine scope);
    *  - `member_rank` / collection `rank` default per the reference
    *    constants when the curator command is absent (:228, :299);
    *  - `top_member` is the first member under the curator's
    *    `sort_labels` order (:234-243): a-z / z-a on the normalized
    *    name, shortest / longest on token count (normalized name as
    *    the deterministic tiebreak), input order otherwise;
    *  - unparseable lines survive as `malformed = true` rows with
    *    defaults, never kill the job (PERMISSIVE + `_corrupt`).
    *
    * Entirely narrow — JSON parse + array higher-order functions, no
    * explode, ZERO shuffles at any corpus size; member lists are
    * curator-sized (the reference caps interest at 10k members), so
    * per-row array work is bounded. Output: (collection_id,
    * collection_name, n_members, n_skipped, members csv, top_member,
    * n_tokens_total, member_rank, rank, malformed).
    */
  def fromCustom(lines: DataFrame, valueCol: String = "value"): DataFrame =
    fromCustomParsed(parseCustom(lines, valueCol))

  /** The staged parse frame [[fromCustomParsed]]/[[customMembersParsed]]
    * consume — exposed so a composed DAG that needs BOTH the
    * collection-grain and the member-grain view (p3) can run the
    * JSONL parse — the expensive per-row step — ONCE, cut it, and
    * feed both consumers (r17, guide §1.2: the line-level
    * entry points each parsed their own input, so p3 paid the parse
    * twice). The line-level forms delegate through here, so the
    * shapes cannot drift. */
  private[graft] def parseCustomStaged(lines: DataFrame,
                                       valueCol: String = "value"): DataFrame =
    parseCustom(lines, valueCol)

  /** [[fromCustom]] over an already-parsed staged frame. */
  private[graft] def fromCustomParsed(staged: DataFrame): DataFrame = {
    val nMembers = when(col("__mem").isNull, lit(0L))
      .otherwise(size(col("__mem")).cast("long"))
    // One sortable STRING key per command so the pick is a plain
    // array_min/array_max over (key, norm) structs — numeric keys
    // (token counts, input order) zero-pad into the string so string
    // order equals numeric order; both engines compare identically.
    val keyed = transform(col("__mem"), m => struct(
      when(col("cmd") === "shortest",
        concat(lpad(m.getField("ntok").cast("string"), 10, "0"),
          m.getField("norm")))
        .when(col("cmd") === "longest",
          concat(lpad((lit(1000000000L) - m.getField("ntok")).cast("string"),
            10, "0"), m.getField("norm")))
        .when(col("cmd").isin("a-z", "z-a"), m.getField("norm"))
        .otherwise(lpad(m.getField("ord").cast("string"), 10, "0")).as("k"),
      m.getField("norm").as("norm")))
    staged.select(
      col("collection_id"), col("collection_name"),
      nMembers.as("n_members"),
      (col("n_labels") - nMembers).as("n_skipped"),
      when(col("__mem").isNull, lit(""))
        .otherwise(array_join(
          array_sort(transform(col("__mem"), m => m.getField("norm"))), ","))
        .as("members"),
      when(nMembers === 0, lit(null).cast("string"))
        .when(col("cmd") === "z-a", array_max(keyed).getField("norm"))
        .otherwise(array_min(keyed).getField("norm")).as("top_member"),
      when(col("__mem").isNull, lit(0L))
        .otherwise(aggregate(col("__mem"), lit(0L),
          (a, m) => a + m.getField("ntok"))).as("n_tokens_total"),
      col("member_rank"), col("rank"), col("malformed"))
  }

  /** The parse + label-shaping stage shared by [[fromCustom]] and
    * [[customMembers]]: one row per line with the line-level fields
    * and the valid labels as a `__mem` array of (norm, ntok, ord)
    * structs (null for malformed lines). Narrow, zero shuffle. */
  private def parseCustom(lines: DataFrame, valueCol: String): DataFrame = {
    val parsed = lines.select(from_json(col(valueCol), customSchema,
      Map("mode" -> "PERMISSIVE",
          "columnNameOfCorruptRecord" -> "_corrupt")).as("r"))
    val labels = col("r.data.labels")
    def normOf(l: Column): Column =
      coalesce(l.getField("normalized_label"),
        array_join(l.getField("tokenized_label"), ""))
    def ntokOf(l: Column): Column =
      when(l.getField("tokenized_label").isNotNull,
        size(l.getField("tokenized_label")).cast("long"))
        // The SHARED tokenizer, not an inline regex copy — a fix to
        // emojiTokens must reach this count too (r12 review).
        .otherwise(size(graft.functions.Text.emojiTokens(
          l.getField("normalized_label"))).cast("long"))
    parsed.select(
      col("r.data.collection_id").as("collection_id"),
      col("r.data.collection_name").as("collection_name"),
      when(labels.isNull, lit(0L)).otherwise(size(labels).cast("long"))
        .as("n_labels"),
      coalesce(col("r.commands.member_rank"), lit(DefaultMemberRank))
        .as("member_rank"),
      coalesce(col("r.commands.collection_rank"), lit(DefaultCollectionRank))
        .as("rank"),
      coalesce(col("r.commands.sort_labels"), lit("none")).as("cmd"),
      col("r._corrupt").isNotNull.as("malformed"),
      transform(
        filter(labels, l => l.getField("normalized_label").isNotNull ||
          l.getField("tokenized_label").isNotNull),
        (l, i) => struct(normOf(l).as("norm"), ntokOf(l).as("ntok"),
          i.cast("long").as("ord"))).as("__mem"))
  }

  /** Member-grain view of the custom-collections inlet: one row per
    * valid label — (collection_id, member, n_tokens, ord,
    * member_rank). The explode is still narrow (zero shuffle);
    * malformed lines and zero-member collections produce no rows.
    * This is the grain the reference's per-member enrichment works at
    * (template_names, load_custom_collections.py:224-232); join
    * dimension tables against it (domain status, scores) and
    * re-aggregate. */
  def customMembers(lines: DataFrame, valueCol: String = "value"): DataFrame =
    customMembersParsed(parseCustom(lines, valueCol))

  /** [[customMembers]] over an already-parsed staged frame. */
  private[graft] def customMembersParsed(staged: DataFrame): DataFrame =
    staged
      .filter(!col("malformed"))
      .select(col("collection_id"), col("member_rank"),
        posexplode(col("__mem")).as(Seq("__p", "m")))
      .select(col("collection_id"),
        col("m.norm").as("member"),
        col("m.ntok").as("n_tokens"),
        col("m.ord").as("ord"),
        col("member_rank"))

  /** Domain-status histogram per custom collection (reference:
    * load_custom_collections.py:229,247-254 — `cached_status =
    * domains.get(normalized)`, then counts over the five statuses
    * with a missing lookup counting as `never_registered`), plus the
    * reference's two rank-feature quirks kept EXACTLY:
    * `nonavailable_count` is the taken/on_sale/recently_released sum
    * PLUS ONE (:318 — "rank features cannot be zero") while the ratio
    * uses the raw sum floored at MIN_VALUE = 1e-8 (:319).
    *
    * `domains` is (name, status) — the suggestable-domains inlet.
    * One broadcast join (the domains dim is lookup-sized) + one
    * map-side-combinable conditional aggregation — the a14 shape at
    * member grain. */
  def customStatusCounts(members: DataFrame, domains: DataFrame): DataFrame = {
    val st = coalesce(col("status"), lit("never_registered"))
    def cnt(s: String) = sum(when(st === s, 1L).otherwise(0L)).as(s)
    members
      .join(broadcast(domains.select(col("name").as("member"), col("status"))),
        Seq("member"), "left")
      .groupBy("collection_id")
      .agg(count(lit(1)).as("n_members"),
        cnt("available"), cnt("taken"), cnt("on_sale"),
        cnt("recently_released"), cnt("never_registered"),
        (sum(when(st.isin("taken", "on_sale", "recently_released"), 1L)
          .otherwise(0L)) + 1L).as("nonavailable_count"),
        // NOT rounded: rounding to any display precision would erase
        // the MIN_VALUE floor the quirk exists for. Integer-count
        // division is bit-identical across engines, so the raw double
        // is still oracle-stable.
        greatest(
          sum(when(st.isin("taken", "on_sale", "recently_released"), 1L)
            .otherwise(0L)).cast("double") / count(lit(1)),
          lit(1e-8)).as("nonavailable_ratio"))
  }

  /** Index update operations for custom collections (reference:
    * produce_custom_update_operations, load_custom_collections.py:
    * 371-396 + update_es.py prepare_full_update/prepare_insert): a
    * collection whose id already exists in the index gets a FULL
    * `update` op — the custom flow skips the field-level hash diff
    * ("there are not that many custom collections") — and an unknown
    * id gets a `create` op. Collections above `maxMembers` are
    * dropped entirely (both prepare_* return None above 10k members).
    * Create ids are DETERMINISTIC (`new-` + collection id) where the
    * reference draws a random id — an engine query must not produce
    * nondeterministic rows; callers needing opaque ids can hash.
    *
    * `custom` is [[fromCustom]] output (or any frame with
    * collection_id, n_members, rank, malformed); `existing` is the
    * (collection_id, es_id) index mapping. One LEFT equi-join on the
    * id — the outer (custom) side is curator-sized but an outer
    * probe cannot be the broadcast build, so at scale this is an
    * id-keyed shuffled join where the big index shuffles once and
    * the curator-sized side is a handful of tasks; nothing is
    * driver-side.
    */
  def customUpdateOps(custom: DataFrame, existing: DataFrame,
                      maxMembers: Long = 10000L): DataFrame = {
    val ex = existing.select(col("collection_id"), col("es_id").as("__es"))
    custom.filter(!col("malformed") && col("n_members") <= maxMembers)
      .join(ex, Seq("collection_id"), "left")
      .select(col("collection_id"),
        when(col("__es").isNotNull, lit("update")).otherwise(lit("create"))
          .as("op"),
        coalesce(col("__es"), concat(lit("new-"), col("collection_id")))
          .as("es_id"),
        col("n_members"), col("rank"))
  }

  /** (old_id → new_id) remap for a relation merge, from one SOUND
    * edge per category (columns `category_id`, `list_id`): the
    * surviving collection id per list is least(list_id, min
    * category_id) — the reference's merge_collections keeps
    * min(category.item, list.item) at each merge — and BOTH the
    * absorbed categories and the list itself map onto it. One
    * definition shared by [[build]] and the standalone
    * a24_merge_by_relation query so the merge semantics cannot
    * drift between them.
    */
  def mergeRemap(soundEdges: DataFrame): DataFrame = {
    val merged = soundEdges.groupBy("list_id")
      .agg(min(col("category_id")).as("__min_cat"))
      .select(col("list_id"),
        least(col("list_id"), col("__min_cat")).as("new_id"))
    soundEdges.join(merged, "list_id")
      .select(col("category_id").as("old_id"), col("new_id"))
      .unionByName(merged.select(col("list_id").as("old_id"), col("new_id")))
  }

  /** Build enriched collections.
    *
    * Required input schemas (exact column names):
    *  - `members`: (collection_id, member_id, score) — membership
    *    edges, reference: parsed wiki-dump rows.
    *  - `entities`: (member_id, member_name, member_type) — member
    *    metadata, reference: db1/db5 KV maps.
    *  - `collections`: (collection_id, collection_name, required_type)
    *    — reference: list/category seeds.
    *  - `typeEdges`: (src, dst) subclass edges with integral type ids
    *    — reference: db2. The type taxonomy is a dimension: it is
    *    collected and broadcast once, and every required type's
    *    ancestor cone is walked inside the tasks
    *    ([[Graph.reachableTo]]); it may be a general DAG, cycles
    *    included, and must fit in the driver.
    * @param relations optional (category_id, list_id) edges — the
    *   P1753/P1754 related-list relation. When present, each category
    *   with a relation is merged into its FIRST related list (smallest
    *   list id — the reference merges into one list and stops,
    *   merge_lists_and_categories.py: `for ... merge_collections(...);
    *   break`) BEFORE the name merge: its members flow to the list
    *   (deduped, best score kept), its seed row is dropped, and the
    *   surviving collection keeps the LEAST of the merged ids as its
    *   id (merge_collections takes `min(category.item, list.item)` as
    *   the stable id — everything keyed on the id downstream, namehash
    *   ordering and banner seeding included, follows that min).
    * @param topK members kept per collection (rank-ordered).
    *
    * Output: one row per distinct collection NAME (same-name
    * collections merged, reference filter_duplicates.py): stable id =
    * min collection id, summed counts, rank-ordered top-k member
    * names, valid/invalid counts (filter_articles2.py keeps both), and
    * the EIP-137 namehash stamp (prepare_collections2.py:116).
    */
  def build(members: DataFrame, entities: DataFrame, collections: DataFrame,
            typeEdges: DataFrame, topK: Int = 10,
            relations: Option[DataFrame] = None): DataFrame = {
    // Relation merge (stage before everything else): remap category
    // members onto the related list and drop the absorbed category
    // seed. The relation table is dim-sized → broadcast join; the
    // member remap is a narrow projection afterwards.
    val (mem1, coll0) = relations match {
      case Some(relRaw) =>
        val rel0 = relRaw.select(col("category_id"), col("list_id"))
        // Only SOUND edges are applied: the target list must exist as
        // a collection, and must not itself be absorbed as a category
        // by another edge (a chain A→B, B→C would remap A's members
        // onto a collection id that no longer survives — they would
        // silently vanish in the coll0 join below). Unsound edges are
        // ignored, so their categories stay standalone collections
        // with members intact. Chains cannot occur in the reference —
        // an entity is either a list or a category — this guards
        // malformed inputs.
        val soundAll = rel0
          .join(collections.select(col("collection_id").as("list_id")).distinct(),
                "list_id")
          .join(rel0.select(col("category_id").as("list_id")).distinct(),
                Seq("list_id"), "left_anti")
        // A category with several sound edges merges into only its
        // FIRST related list — the reference collects the related
        // lists that exist and breaks after the first merge
        // (merge_lists_and_categories.py: `for ... merge_collections
        // (...); break`). Deterministic pick: smallest list id — a
        // map-side-combinable min, not a rank window (the edge row IS
        // (category_id, list_id), nothing else to carry).
        val sound = soundAll.groupBy("category_id")
          .agg(min(col("list_id")).as("list_id"))
        // remap and the survivor seed set feed several consumers below
        // (member remap, survivor remap, closure targets, the final
        // join) and Catalyst does not dedupe common subplans — one
        // materialization each, both dim-sized. remap's cut is LAZY
        // (r17, the job-barrier diet): its first scan is the single
        // reference inside the survivors cut's own job below, so the
        // two dim cuts materialize in ONE sequential job instead of
        // two (no concurrent first-scan → no get-or-compute race);
        // every later consumer reads the stored blocks.
        val remap = broadcast(mergeRemap(sound).cutLazy())
        val remappedMem = members
          .join(remap, members("collection_id") === remap("old_id"), "left")
          .withColumn("collection_id", coalesce(col("new_id"), col("collection_id")))
          .drop("old_id", "new_id")
        val survivors = collections
          .join(broadcast(sound.select(col("category_id"))),
                collections("collection_id") === col("category_id"), "left_anti")
          .join(remap, col("collection_id") === remap("old_id"), "left")
          .withColumn("collection_id", coalesce(col("new_id"), col("collection_id")))
          .drop("old_id", "new_id")
          .cut()
        (remappedMem, survivors)
      case None => (members, collections)
    }
    // Membership rows can repeat — a member present in both a category
    // and its list post-remap, or duplicated edges in the raw input —
    // keep the best-scored copy. Unconditional: the same input must
    // yield the same counts whether or not a relation table is passed.
    // A plain max-aggregation, not a rank window: the members contract
    // is exactly (collection_id, member_id, score), so "best row" ≡
    // max score, and the groupBy combines map-side while a window
    // would shuffle-and-sort every raw edge.
    val mem0 = mem1.groupBy("collection_id", "member_id")
      .agg(max(col("score")).as("score"))

    // Reachability only toward the collections' required types — the
    // targets' ancestor cone, never the full closure (same asymmetry
    // the standalone validation query exploits).
    val closure = Graph.reachableTo(
      typeEdges.select(col("src"), col("dst")),
      coll0.select(col("required_type").as("dst")))

    // LEFT join to entities (r12 review, reference parity): a member
    // with no entity row cannot validate — the reference counts it
    // INVALID (filter_articles2.py: invalid_members_count =
    // len(members) − len(valid_members), and a member with no
    // wikidata id never reaches valid_members) — so it must survive
    // to the counts with a null type (null `valid` counts as invalid
    // on both engines), not vanish from both buckets in an inner
    // join.
    val typed = mem0
      .join(entities, Seq("member_id"), "left")
      .join(coll0, "collection_id")
    // Materialized once: both aggregations below consume it, and
    // Catalyst does not dedupe common subplans.
    val validated = Graph.validateReachable(
      typed, closure, "member_type", "required_type").cut()

    // Rank valid members per collection; keep top-k names in order.
    val ranked = Relational.topKPerGroup(
      validated.filter(col("valid")),
      Seq(col("collection_id")),
      Seq(col("score").desc, col("member_id").asc), topK, "rank")
    val topMembers = ranked.groupBy("collection_id")
      .agg(transform(array_sort(collect_list(struct(col("rank"), col("member_name")))),
        s => s.getField("member_name")).as("top_members"))

    val counts = validated.groupBy("collection_id")
      .agg(sum(when(col("valid"), 1L).otherwise(0L)).as("valid_cnt"),
           sum(when(col("valid"), 0L).otherwise(1L)).as("invalid_cnt"),
           // Rank is scoped to VALID members, so an invalid-only
           // sibling can never out-rank (and null out) a real member
           // list in the same-name max_by below.
           max(when(col("valid"), col("score"))).as("rank"))

    // LEFT join to counts (r12 review, reference parity): a MEMBERLESS
    // collection emits a 0/0 row in the reference (it writes every
    // input collection, members or not), so it must not drop here.
    val joined = coll0.select("collection_id", "collection_name")
      .join(counts, Seq("collection_id"), "left")
      .join(topMembers, Seq("collection_id"), "left")
      .withColumn("valid_cnt", coalesce(col("valid_cnt"), lit(0L)))
      .withColumn("invalid_cnt", coalesce(col("invalid_cnt"), lit(0L)))
      // Valid-less collections carry an empty member list, not null —
      // keeps the merged pick and any downstream rendering total.
      .withColumn("top_members",
        coalesce(col("top_members"), array().cast("array<string>")))
    // Merge collections sharing a name (filter_duplicates.py): min
    // stable id, summed counts, max rank, best member list. The best
    // list is picked DETERMINISTICALLY by (rank desc nulls last,
    // collection id asc) — a max_by on rank alone breaks ties (and
    // all-null ranks) arbitrarily, so the ordering is encoded as a
    // composite max_by key: (rank with nulls as -∞, negated id).
    // Struct comparison is lexicographic and the id makes the key
    // unique, so the pick happens INSIDE the one name-keyed
    // aggregation — no rank window, no extra sort pass, map-side
    // combinable like every other agg here, and a null
    // collection_name still forms a merge group (groupBy keys nulls
    // together where a join back would drop the row).
    joined.groupBy(col("collection_name"))
      .agg(min(col("collection_id")).as("stable_id"),
           sum(col("valid_cnt")).as("valid_cnt"),
           sum(col("invalid_cnt")).as("invalid_cnt"),
           max(col("rank")).as("rank"),
           max_by(col("top_members"),
             struct(coalesce(col("rank"), lit(Double.NegativeInfinity)).as("r"),
                    (-col("collection_id")).as("negid"))).as("top_members"))
      .withColumn("namehash",
        hex(Hashes.namehash(concat(col("collection_name"), lit(".eth")))))
      // Deterministic banner pick stamped on the final document
      // (prepare_collections2.py:63-65 seeds a PRNG with the item id;
      // the engine contract is "deterministic hash of the stable id").
      .withColumn("banner_number", Sampling.hashBucket(col("stable_id"), 20))
  }
}
