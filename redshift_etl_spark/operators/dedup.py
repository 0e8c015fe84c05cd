"""Deduplication operators for large-scale text corpora — exact,
MinHash+LSH, SimHash, and n-gram Jaccard.

These extend the reference's dedup surface (which is key-equality only:
DynamoDB `ContactId` conditional writes at `…CTR with Firehose/
lambda_connect_firehose_redshift.py:9-28` and the anti-join at
`…CTR with boto3/SP_boto3_connect_redshift.sql:24-26`) to the
content-similarity dedup a training-data pipeline needs.

Portability note: hashing uses md5 (identical across Spark and any SQL
oracle) rather than Spark-internal murmur3. MinHash permutations are
"salted md5, lexicographic min" — the min over a 128-bit uniform hash,
a standard MinHash construction.

Scale design (100 TB):
- Everything is shingle-explode → groupBy/join on the shingle or bucket
  — embarrassingly parallel, no driver-side state.
- LSH banding turns the O(n²) pair space into per-bucket candidate
  joins; bucket sizes are bounded by band width, and a skewed bucket
  (e.g. boilerplate docs) is handled by AQE skew-join splitting.
- Exact pair-verification (Jaccard) runs only on LSH candidates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import quote


# --- tokenize / shingle ----------------------------------------------------

def tokens_col(text: Column | str) -> Column:
    """Whitespace tokens (canonical tokenizer, shared with the oracle)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


def exploded_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, shingle) rows — the parallel unit for all similarity ops.

    Shingle i = tokens[i .. i+n-1] joined with single spaces; distinct
    per doc; docs shorter than n words yield no rows.

    Implementation: tokenize ONCE into an array column, then MLlib's
    ``NGram`` (a JVM expression over the materialized token array).
    A pure `transform(sequence, i -> concat(t[i], …))` formulation is
    a performance trap: Catalyst's CollapseProject inlines the `split`
    into every element access, making tokenization O(tokens²) per row
    (observed 100× slowdown at sf0.1).
    """
    from pyspark.ml.feature import NGram

    from .sampling import spread

    # hash-spread before shingling: the tokenize + n-gram + explode is
    # the similarity family's dominant map cost and otherwise runs at
    # input-split granularity (ONE task on single-row-group testdata;
    # guide §2.5 — one narrow doc-row exchange buys cluster-width
    # execution of work n× the input bytes)
    tok = spread(df.select(F.col(id_col), F.col(text_col)), id_col).select(
        F.col(id_col), tokens_col(text_col).alias("__tokens")
    )
    grams = NGram(n=n, inputCol="__tokens", outputCol="__grams").transform(tok)
    return grams.select(
        F.col(id_col), F.explode(F.array_distinct("__grams")).alias("shingle")
    )


# --- exact dedup -----------------------------------------------------------

def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct content fingerprint
    with the representative (min id) and the duplicate count. One shuffle
    on the 128-bit fingerprint — never on the raw text bytes."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def drop_exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep only the representative row per distinct content."""
    keep = exact_dedup_groups(df, id_col, text_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(keep, id_col, "left_semi")


# --- MinHash + LSH ---------------------------------------------------------

def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 8, shingle_n: int = 3
) -> DataFrame:
    """One row per doc with columns h0..h{k-1}: MinHash signature where
    h_j = min over shingles of a 32-bit salted hash. Signature agreement
    fraction estimates Jaccard similarity.

    Hash family: md5(g || ':' || shingle) computed once per GROUP of
    four positions, then h_j takes 8 hex chars (32 bits) at offset
    j%4 — four independent-bit minhashes per md5. vs one md5 per
    position: 4× less hashing on the exploded shingle table (the
    dominant dedup cost at corpus scale) and a 4× narrower signature
    row into the group-by shuffle. 32 bits is plenty for the min: even
    10⁶ shingles/doc leave collision odds ~10⁻⁴ per position. The md5s
    are projected as real columns BEFORE the aggregate — the agg's min
    expressions reference them by name, which Catalyst does not inline
    (verified: exactly `ceil(k/4)` md5 calls in the physical plan).
    """
    sh = exploded_shingles(df, id_col, text_col, shingle_n)
    groups = (num_hashes + 3) // 4
    proj = sh.select(
        F.col(id_col),
        *[
            F.md5(F.concat(F.lit(f"{g}:"), F.col("shingle"))).alias(f"__m{g}")
            for g in range(groups)
        ],
    )
    aggs = [
        F.min(
            F.substring(F.col(f"__m{j // 4}"), (j % 4) * 8 + 1, 8)
        ).alias(f"h{j}")
        for j in range(num_hashes)
    ]
    return proj.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    bands: int = 2,
    shingle_n: int = 3,
) -> DataFrame:
    """Banded-LSH candidate pairs with estimated Jaccard.

    Signature split into ``bands`` bands of ``num_hashes/bands`` rows;
    docs sharing any band bucket become a candidate pair. Output:
    (doc_a, doc_b, est_jaccard) with doc_a < doc_b, est_jaccard =
    fraction of agreeing signature positions.

    Shape: each signature row is exploded ONCE into one row per (band,
    bucket), and ONE self-join on (band, bucket) finds every colliding
    pair across all bands; a pair-key dropDuplicates collapses pairs
    that collide in several bands. The per-band spelling (``bands``
    joins plus unions over a persisted signature table) planned and ran
    14 jobs where this runs 3, and built each projection column by
    column; here every projection is SQL text, one py4j call each.
    """
    assert num_hashes % bands == 0
    r = num_hashes // bands
    h = [f"h{j}" for j in range(num_hashes)]
    keys = ", ".join(
        f"named_struct('band', {b}, 'bucket', "
        f"md5(concat({', '.join(h[b * r:(b + 1) * r])})))"
        for b in range(bands)
    )
    sig = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n)
    keyed = sig.selectExpr(
        f"{quote(id_col)} AS __id", *h, f"inline(array({keys}))"
    )
    left = keyed.selectExpr(
        "__id AS doc_a", "band", "bucket", *[f"{c} AS a_{c}" for c in h]
    )
    right = keyed.selectExpr(
        "__id AS doc_b", "band", "bucket", *[f"{c} AS b_{c}" for c in h]
    )
    agree = " + ".join(f"CAST(a_{c} = b_{c} AS INT)" for c in h)
    return (
        left.join(right, ["band", "bucket"])
        .filter("doc_a < doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
        .selectExpr(
            "doc_a", "doc_b", f"({agree}) / {float(num_hashes)}D AS est_jaccard"
        )
    )


# --- exact n-gram Jaccard --------------------------------------------------

def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """Exact shingle-set Jaccard for all pairs sharing ≥1 shingle.

    Shuffle pattern: explode → join on shingle (co-partitioned) →
    groupBy pair. At scale, run on LSH candidates instead of all pairs;
    this direct form is the verification kernel.
    """
    # The shingle index feeds three plan branches (two join sides +
    # sizes); persist it so tokenization runs once. At warehouse scale
    # this is the "materialize the shingle index" step — a parquet table
    # partitioned by shingle hash.
    sh = exploded_shingles(df, id_col, text_col, shingle_n).persist()
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    b = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    inter = (
        a.join(b, ["shingle"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# --- SimHash ---------------------------------------------------------------

def _nibble(h: Column, pos: int) -> Column:
    """Hex nibble at 1-based ``pos`` of an md5 string → int 0..15.
    Uses instr over the hex alphabet — portable to any SQL oracle."""
    return F.instr(F.lit("0123456789abcdef"), F.substring(h, pos, 1)) - 1


def simhash(
    df: DataFrame, id_col: str, text_col: str, bits: int = 16
) -> DataFrame:
    """SimHash over distinct tokens: bit b is the sign of
    Σ_tokens (2·bit_b(md5(token)) − 1). Returns (id, simhash) with the
    packed value in [0, 2^bits). bits ≤ 32 (nibbles from the md5 hex)."""
    assert bits % 4 == 0 and bits <= 32
    tok = df.select(
        F.col(id_col), F.explode(F.array_distinct(tokens_col(text_col))).alias("w")
    ).withColumn("h", F.md5(F.col("w")))
    bit_sums = []
    for b in range(bits):
        nib = _nibble(F.col("h"), b // 4 + 1)
        bit = F.shiftright(nib, 3 - b % 4) % 2
        bit_sums.append(F.sum(bit * 2 - 1).alias(f"s{b}"))
    agg = tok.groupBy(id_col).agg(*bit_sums)
    packed = sum(
        F.when(F.col(f"s{b}") > 0, F.lit(2 ** (bits - 1 - b))).otherwise(0)
        for b in range(bits)
    )
    return agg.select(F.col(id_col), packed.cast("long").alias("simhash"))


def simhash_near_pairs(
    df: DataFrame, id_col: str, text_col: str, bits: int = 16, max_hamming: int = 2
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Candidate generation by half-split banding; the pigeonhole guarantee
    is exact for ``max_hamming ≤ 1`` (some half must match). For larger
    distances recall is partial with 2 bands — raise the band count
    (max_hamming+1 bands gives an exact guarantee) when higher recall
    matters more than join fan-out.
    """
    sig = simhash(df, id_col, text_col, bits)
    half = bits // 2
    sig = sig.select(
        F.col(id_col),
        "simhash",
        F.shiftright(F.col("simhash"), half).alias("hi"),
        (F.col("simhash") % (2 ** half)).alias("lo"),
    )
    a = sig.select(
        F.col(id_col).alias("doc_a"),
        F.col("simhash").alias("sh_a"),
        F.col("hi").alias("hi_a"),
        F.col("lo").alias("lo_a"),
    )
    b = sig.select(
        F.col(id_col).alias("doc_b"),
        F.col("simhash").alias("sh_b"),
        F.col("hi").alias("hi_b"),
        F.col("lo").alias("lo_b"),
    )
    # One equi-join PER half, unioned, then pair-dedup. The obvious
    # single join on (hi_a=hi_b OR lo_a=lo_b) defeats hash-join planning
    # entirely — Catalyst can only run a disjunction of equalities as a
    # CartesianProduct, O(n²) at scale. Two hash joins + dropDuplicates
    # compute the identical candidate set as bucketed equi-joins, the
    # same per-band pattern `lsh_candidate_pairs` uses.
    cand = None
    for half_col in ("hi", "lo"):
        part = a.join(
            b,
            (F.col(f"{half_col}_a") == F.col(f"{half_col}_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        ).select("doc_a", "doc_b", "sh_a", "sh_b")
        cand = part if cand is None else cand.unionByName(part)
    cand = cand.dropDuplicates(["doc_a", "doc_b"])
    xor = F.col("sh_a").bitwiseXOR(F.col("sh_b"))
    hamming = F.bit_count(xor)
    return cand.select("doc_a", "doc_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


# --- near-dup cluster formation (connected components) ---------------------

class ComponentsNotConverged(RuntimeError):
    """`connected_components` used up ``max_iter`` rounds while labels
    were still changing; the labels it has are not the components."""


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over an undirected pair graph → the cluster
    step of dedup: pairs (from `jaccard_pairs`/`lsh_candidate_pairs`)
    become groups with a canonical representative (the min node id).

    Returns (node, component) for every node that appears in an edge;
    component = min node id reachable. Raises `ComponentsNotConverged`
    when ``max_iter`` rounds end with labels still changing.

    Algorithm: hash-min label propagation with pointer jumping, as
    message passing with ONE shuffle per round. The state is one row per
    node: (label, neighbours, children), where children are the nodes
    whose label was this node at the start of the previous round. The
    first state already holds label = min(self, neighbours). Each round
    every node sends its label to itself, its neighbours and its
    children, and a pointer to the node its label names; one groupBy on
    the receiving node takes the min label and collects the new
    children. A node thus learns its label's label one round late, so
    the distance covered grows like the Fibonacci numbers instead of
    doubling (a 64-node path: 10 rounds). On LSH dedup graphs, where
    clusters are near-cliques, the first state is already final and one
    round confirms it.

    Jobs: the round's shuffle, then an eager localCheckpoint (cuts the
    lineage, which otherwise grows with every round) whose one job also
    reports the round's changed-label count through ``observe`` — so a
    round is two jobs, and no graph data is collected. The per-node
    arrays hold a node's neighbours and its current children: a hub's
    degree, and at most a component's size at its min node.
    """
    from pyspark.sql import Observation

    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    a, b = quote(src), quote(dst)
    sym = edges.selectExpr(f"{a} AS node", f"{b} AS nbr").unionByName(
        edges.selectExpr(f"{b} AS node", f"{a} AS nbr")
    )
    # no children yet: `filter(.., false)` is an empty array of the id type
    state = (
        sym.groupBy("node")
        .agg(F.expr("collect_set(nbr) AS nbrs"), F.expr("min(nbr) AS m"))
        .selectExpr(
            "node", "least(node, m) AS label", "nbrs",
            "filter(nbrs, x -> false) AS children",
        )
        .localCheckpoint(eager=True)
    )
    # message rows (node, label, old, nbrs, child): the self row keeps the
    # state, label rows go to neighbours and children, and a pointer row
    # tells the labelled node that this node is now its child
    null_id, null_nbrs = "IF(false, node, NULL)", "IF(false, nbrs, NULL)"

    def row(target, old, nbrs, child):
        return (
            f"named_struct('node', {target}, 'label', label, 'old', {old}, "
            f"'nbrs', {nbrs}, 'child', {child})"
        )

    messages = (
        f"inline(concat(array({row('node', 'label', 'nbrs', null_id)}), "
        f"transform(concat(nbrs, children), v -> "
        f"{row('v', 'IF(false, label, NULL)', null_nbrs, null_id)}), "
        f"filter(array({row('label', 'IF(false, label, NULL)', null_nbrs, 'node')}), "
        f"p -> p.child != p.node)))"
    )
    for _ in range(max_iter):
        obs = Observation()
        state = (
            state.selectExpr(messages)
            .groupBy("node")
            .agg(
                F.expr("min(label) AS label"),
                F.expr("max(old) AS old"),
                F.expr("first(nbrs, true) AS nbrs"),
                F.expr("collect_list(child) AS children"),
            )
            .observe(obs, F.expr("count_if(label != old) AS changed"))
            .localCheckpoint(eager=True)
        )
        if obs.get["changed"] == 0:
            return state.selectExpr("node", "label AS component")
    raise ComponentsNotConverged(
        f"connected components: labels still changing after max_iter="
        f"{max_iter} rounds"
    )


# --- benchmark decontamination --------------------------------------------

def contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_hits: int = 1,
) -> DataFrame:
    """Flag training documents that share word n-grams with an eval
    benchmark (the GPT-3/Llama decontamination recipe: any benchmark
    n-gram appearing in a training doc marks it contaminated).

    Scale shape: the benchmark is tiny next to a 100 TB corpus, so its
    distinct shingle set is BROADCAST — the corpus side is a map-only
    probe (no shuffle of corpus shingles), followed by one hash agg on
    doc id. Returns (id, n_shingles, n_hits, hit_ratio) for every doc
    with at least ``min_hits`` overlapping n-grams.
    """
    sh = exploded_shingles(corpus, id_col, text_col, n=n)
    bench_sh = (
        exploded_shingles(benchmark, id_col, text_col, n=n)
        .select("shingle")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    return (
        sh.join(F.broadcast(bench_sh), "shingle", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.coalesce(F.sum("__hit"), F.lit(0)).alias("n_hits"),
        )
        .filter(F.col("n_hits") >= min_hits)
        .withColumn(
            "hit_ratio", F.col("n_hits") / F.col("n_shingles")
        )
    )


def semantic_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    vec_col: str,
    tau_micro: int = 850000,
    dims: int = 64,
    bands: int = 8,
    planes_per_band: int = 3,
) -> DataFrame:
    """Embedding-space decontamination — the companion `contamination`
    (n-gram) misses: paraphrased benchmark leakage, where the training
    doc rewords an eval item so no n-gram survives but the embedding
    cosine stays high.

    Contract (deterministic, oracle-replicable like every LSH kernel
    here): a corpus item is CONTAMINATED iff it shares at least one of
    the md5-derived band buckets with some benchmark vector AND their
    micro-rounded cosine ≥ ``tau_micro``. Banding is the recall dial —
    candidates-only semantics, the same approximation Faiss-backed
    decontamination makes with ANN search, but with a literally
    checkable candidate set. Returns one row per contaminated corpus
    item: (id, n_bench_hits, max_cos_micro, nearest_bench_id) — hits
    counted over qualifying candidates, nearest = highest cosine with
    lowest-benchmark-id tiebreak.

    Scale shape (`similarity.lsh_bucketed_cross_pairs`): banded
    explode on both sides, shuffle equi-join on the bucket key, one
    hash agg on corpus id. The benchmark being small next to a 100 TB
    corpus makes the bucket join effectively a benchmark-bucket lookup
    — but nothing here *requires* it to fit in memory (no broadcast
    hint; AQE will choose one when it does fit)."""
    from .similarity import lsh_bucketed_cross_pairs

    pairs = lsh_bucketed_cross_pairs(
        corpus,
        benchmark,
        id_col,
        vec_col,
        dims=dims,
        bands=bands,
        planes_per_band=planes_per_band,
        threshold_micro=tau_micro,
        out_a="__cid",
        out_b="__bid",
    )
    return (
        pairs.groupBy("__cid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bench_hits"),
            F.max("cos_micro").alias("max_cos_micro"),
            # (cos DESC, b_id ASC) rank = min_by over (-cos, b_id): the
            # id orders ascending NATIVELY, so any id type works — a
            # unary-minus-on-id spelling silently casts non-numeric ids
            # to NULL under non-ANSI Spark, making ties nondeterministic
            # instead of failing (ADVICE r09)
            F.min_by(
                F.col("__bid"),
                F.struct(
                    (-F.col("cos_micro")).alias("neg_cos"), F.col("__bid")
                ),
            ).alias("nearest_bench_id"),
        )
        .withColumnRenamed("__cid", id_col)
    )


def decontaminate_semantic(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    vec_col: str,
    tau_micro: int = 850000,
    dims: int = 64,
    bands: int = 8,
    planes_per_band: int = 3,
) -> DataFrame:
    """The keep-set form: drop every `semantic_contamination`-flagged
    item from the corpus (left anti-join on the flagged ids — one
    hash join keyed on the corpus id, no second scoring pass)."""
    flagged = semantic_contamination(
        corpus, benchmark, id_col, vec_col,
        tau_micro=tau_micro, dims=dims, bands=bands,
        planes_per_band=planes_per_band,
    ).select(id_col)
    return corpus.join(flagged, id_col, "left_anti")


def _sliding_gram_hashes(
    df: DataFrame, id_col: str, text_col: str, window: int
) -> DataFrame:
    """(id, start, gh) — md5 of every ``window``-token sliding gram
    with its 0-based token start (the `exact_substring_dedup` slide,
    shared with `contamination_spans`). Tokenizes ONCE into a
    projected attribute — an inline split inside the transform lambda
    re-splits per window position, O(tokens²) per doc."""
    base = df.select(
        F.col(id_col), tokens_col(text_col).alias("__toks")
    ).filter(F.size("__toks") >= window)
    return base.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("__toks") - window),
                lambda i: F.struct(
                    i.alias("start"),
                    F.md5(
                        F.array_join(
                            F.slice(F.col("__toks"), i + 1, window), " "
                        )
                    ).alias("gh"),
                ),
            )
        ).alias("g"),
    ).select(
        id_col,
        F.col("g.start").alias("start"),
        F.col("g.gh").alias("gh"),
    )


def contamination_spans(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
) -> DataFrame:
    """Span-level exact-substring decontamination: WHICH token spans
    of each training document literally reproduce benchmark text —
    not just the doc-level keep/drop of `contamination`. The
    doc-grain flag is too blunt for long documents (one leaked
    benchmark question should excise a span, not a book); span grain
    follows Lee et al.'s ExactSubstr, aimed at eval text instead of
    corpus self-repeats.

    Composition (verdict r09 item 8): `exact_substring_dedup`'s
    sliding-gram machinery meets `contamination`'s broadcast-benchmark
    posture. Benchmark window-gram hashes are distinct'd and BROADCAST
    (eval suites are MBs against a 100 TB corpus); the corpus gram
    slide is then a MAP-ONLY probe — unlike exact_substring_dedup's
    corpus-vs-corpus counting, no CORPUS gram hash ever shuffles (the
    one gram-keyed exchange is the benchmark-sized distinct). The
    corpus-scale exchanges are doc-grain only: one agg gathering
    flagged starts per doc and one join back to the flagged docs'
    token arrays. Raw text and token grains never move.

    Flagged alignments merge in-row into MAXIMAL spans: equal-length
    intervals sorted by start merge iff next_start ≤ prev_start +
    window (overlap or exact adjacency), so the fold here and a SQL
    gaps-and-islands twin agree exactly.

    Returns one row per merged span: (id, span_start, span_end)
    token indices (end exclusive), span_tokens, span_text."""
    grams = _sliding_gram_hashes(corpus, id_col, text_col, window)
    bgh = (
        _sliding_gram_hashes(benchmark, id_col, text_col, window)
        .select("gh")
        .distinct()
    )
    # broadcast bound: distinct window-grams of the benchmark SUITE —
    # eval sets are MB-scale by construction (same bound as
    # `contamination`'s shingle broadcast)
    flagged = grams.join(F.broadcast(bgh), "gh").select(id_col, "start")
    starts = flagged.groupBy(id_col).agg(
        F.array_sort(F.collect_set("start")).alias("__starts")
    )
    # Maximal spans in O(starts) per row via island heads/tails (an
    # aggregate() fold that appends with concat() copies the
    # accumulator per element — quadratic on a wall-to-wall-leaked
    # book). With sorted equal-length intervals an island breaks
    # exactly where the gap to the neighbor exceeds the window, so
    # heads/tails are two filters and a positional zip. F.get (0-based,
    # NULL out of bounds) keeps the edge probes ANSI-safe.
    w = F.lit(window)
    arr = F.col("__starts")
    idx = F.transform(
        arr, lambda st, i: F.struct(st.alias("s"), i.alias("i"))
    )
    heads = F.filter(
        idx,
        lambda x: (x["i"] == 0)
        | ((x["s"] - F.get(arr, x["i"] - 1)) > w),
    )
    tails = F.filter(
        idx,
        lambda x: (x["i"] == F.size(arr) - 1)
        | ((F.get(arr, x["i"] + 1) - x["s"]) > w),
    )
    merged = F.zip_with(
        heads,
        tails,
        lambda h, t: F.struct(h["s"].alias("s"), (t["s"] + w).alias("e")),
    )
    spans = starts.select(
        F.col(id_col), F.explode(merged).alias("sp")
    )
    toks = corpus.select(
        F.col(id_col), tokens_col(text_col).alias("__toks")
    )
    return spans.join(toks, id_col).select(
        F.col(id_col),
        F.col("sp.s").cast("long").alias("span_start"),
        F.col("sp.e").cast("long").alias("span_end"),
        (F.col("sp.e") - F.col("sp.s")).cast("long").alias("span_tokens"),
        F.array_join(
            F.slice(
                F.col("__toks"),
                F.col("sp.s") + 1,
                F.col("sp.e") - F.col("sp.s"),
            ),
            " ",
        ).alias("span_text"),
    )


def jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """Exact Jaccard-≥t pairs via PREFIX FILTERING (AllPairs/PPJoin
    family) — the scale path `jaccard_pairs` isn't: instead of joining
    EVERY shingle occurrence (which explodes on corpus-common
    shingles), each document indexes only its p = n − ⌈t·n⌉ + 1 RAREST
    shingles under a global (doc-frequency, shingle) order. The prefix
    filtering principle guarantees two sets with J ≥ t share at least
    one prefix element under any global order, so the candidate join is
    LOSSLESS — verified by the oracle being the plain all-shingle
    formulation. Survivors get one exact intersection count each.

    Why it scales where the direct join doesn't: boilerplate shingles
    have the HIGHEST doc-frequency, so they sort to the ends of every
    document and out of every prefix — precisely the join keys that
    explode quadratically in `jaccard_pairs` are the ones this skips.
    Three shuffles: the df count, the per-doc rank window, and the
    candidate verify; prefix buckets are rare-by-construction keys.
    The exploded-shingle frame is persisted (it feeds the size agg, the
    doc-freq agg, and both sides of the verify join — without pinning
    Catalyst re-explodes the corpus for each consumer); as with
    `rollup_cascade`, unpersist happens at the usual cache lifecycle
    (clearCache or GC), since the returned frame is lazy and still
    references the cache.
    """
    from pyspark.sql import Window

    sh = exploded_shingles(df, id_col, text_col, shingle_n).persist()
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    w = Window.partitionBy(id_col).orderBy("__df", "shingle")
    ranked = (
        sh.join(dfreq, "shingle")
        .withColumn("__rk", F.row_number().over(w))
        .join(sizes, id_col)
    )
    # ⌈t·n⌉ must be the exact rational ceiling: binary doubles can land
    # a hair ABOVE the true product (t=0.55, n=20 → 11.000000000000002,
    # ceil 12 instead of 11), shrinking the prefix by one element and
    # silently breaking the lossless guarantee. A small downward nudge
    # before ceil restores exactness for any realistic (t, n): the true
    # product is ≥ 1e-9 away from the next-lower integer unless it IS
    # that integer, in which case the nudge keeps ceil unchanged.
    prefix = ranked.filter(
        F.col("__rk")
        <= F.col("n_sh") - F.ceil(F.col("n_sh") * threshold - 1e-9) + 1
    ).select(id_col, "shingle")
    pa = prefix.select(F.col(id_col).alias("doc_a"), "shingle")
    pb = prefix.select(F.col(id_col).alias("doc_b"), "shingle")
    cand = (
        pa.join(pb, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    full_a = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    full_b = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    inter = (
        cand.join(full_a, "doc_a")
        .join(full_b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold_num: int = 4,
    threshold_den: int = 5,
    shingle_n: int = 3,
) -> DataFrame:
    """Asymmetric near-dup: directed pairs where the SMALLER document's
    shingles are mostly contained in the other's —
    containment(A→B) = |A∩B| / |A| ≥ num/den. Catches what symmetric
    Jaccard misses by construction: a short document embedded verbatim
    in a much longer one has high containment but low Jaccard (the
    union is dominated by the host), and web corpora are full of
    exactly that (quoted articles, boilerplate-wrapped reposts).

    Same shuffle pattern as `jaccard_pairs` (the shingle index feeds an
    equi-join + pair aggregate); the threshold compares as pure
    integers (n_inter·den ≥ n_a·num) so the cut is engine-exact.
    Emits (doc_a → doc_b) meaning "doc_a is contained in doc_b";
    both directions are checked, self/duplicate pairs excluded by
    the doc_a ≠ doc_b guard on the directed frame."""
    sh = exploded_shingles(df, id_col, text_col, shingle_n).persist()
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    b = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    inter = (
        a.join(b, ["shingle"])
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(
            F.col("n_inter") * threshold_den >= F.col("n_a") * threshold_num
        )
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            "n_a",
            "n_b",
            (F.col("n_inter").cast("double") / F.col("n_a")).alias(
                "containment"
            ),
        )
    )


def kmv_sketches(
    df: DataFrame, group_col: str, item: Column | str, k: int = 256
) -> DataFrame:
    """K-minimum-values set sketch per group: the k smallest md5 values
    of the group's DISTINCT items, as a sorted array — the
    set-SIMILARITY companion to the HLL cardinality rollup. Stored
    sketches answer "how much do corpus A and B overlap?" WITHOUT ever
    joining the corpora (`kmv_overlap`), and they merge exactly: the
    k-min of a union is the k-min of the concatenated sketches
    (order-independent, engine-exact — md5 strings compare
    lexicographically the same everywhere).

    Build cost: one distinct + per-group top-k (window row_number over
    the hash order — bounded output, never a full collect of the
    group's items)."""
    c = F.col(item) if isinstance(item, str) else item
    from pyspark.sql import Window

    hashed = df.select(
        F.col(group_col).alias("grp"), F.md5(c.cast("string")).alias("h")
    ).distinct()
    w = Window.partitionBy("grp").orderBy("h")
    return (
        hashed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .groupBy("grp")
        .agg(F.array_sort(F.collect_list("h")).alias("kmv"))
    )


def kmv_overlap(sketches: DataFrame, k: int = 256) -> DataFrame:
    """Pairwise Jaccard estimates between all groups from their stored
    sketches alone: for groups (x, y), take the k smallest of the
    merged sketch and count how many appear in BOTH — count/k estimates
    J(x, y) with ~1/√k standard error. The sketch frame is one row per
    group, so the pair join is trivially small however big the
    corpora."""
    a = sketches.select(
        F.col("grp").alias("grp_a"), F.col("kmv").alias("kmv_a")
    )
    b = sketches.select(
        F.col("grp").alias("grp_b"), F.col("kmv").alias("kmv_b")
    )
    merged = F.slice(
        F.array_sort(F.array_union(F.col("kmv_a"), F.col("kmv_b"))), 1, k
    )
    both = F.array_intersect(
        merged, F.array_intersect(F.col("kmv_a"), F.col("kmv_b"))
    )
    return (
        a.join(b, F.col("grp_a") < F.col("grp_b"))
        .select(
            "grp_a",
            "grp_b",
            (
                F.size(both).cast("double")
                / F.least(F.lit(k), F.size(merged))
            ).alias("jaccard_est"),
        )
    )


def exact_substring_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 10,
    min_count: int = 2,
) -> DataFrame:
    """Exact substring deduplication (the ExactSubstr pass of Lee et
    al., "Deduplicating Training Data Makes Language Models Better"):
    any ``window``-token span occurring ≥ ``min_count`` times in the
    corpus — across documents OR repeated within one — is removed from
    EVERY document at EVERY alignment, and each document is reassembled
    from its surviving tokens in original order. Sliding windows (vs
    `text.dedup_spans`' fixed chunks) catch repeats at any offset,
    which is what makes memorized boilerplate actually disappear.

    The reference implementation builds a monolithic suffix array —
    single-machine by construction. The distributed shape here:

      1. slide: explode md5 of each w-gram with its start position
         (only 16-hex-char hashes shuffle, never raw text; corpus cost
         ×w rows but each row is ~30 bytes),
      2. count: one hash agg on gram hash → total occurrence count,
      3. flag: inner-join counts ≥ min_count back to (doc, start) —
         Spark's runtime bloom/semi-join prunes the probe side,
      4. gather: per-doc collect_set of flagged starts (doc-grain —
         bounded by the doc's own length),
      5. rebuild: IN-ROW projection — each token survives iff no
         flagged start covers its index (`F.exists` over the starts
         array). No token-grain shuffle exists anywhere: only gram
         hashes and per-doc start arrays ever move.

    Per-row rebuild cost is O(tokens × flagged starts); for documents
    where both are ~10⁵ (book-length AND wall-to-wall duplicated) a
    sorted-starts binary probe would be the next step — not needed at
    sane document lengths.

    Gram keys are uniform md5s, so every stage buckets evenly — this
    scales like minhash-LSH. md5 collisions (~2⁻⁶⁴) are the accepted
    trade, as everywhere else in this module.

    Returns (id, text_clean, n_tokens, n_removed): text_clean = ''
    when everything was boilerplate."""
    # Tokenize ONCE into a real projected attribute: referencing the
    # split() expression inline inside the transform lambda would
    # re-split the text at every window position — O(tokens²) per doc
    # (the trap this module's own exploded_shingles docstring warns
    # about; fine on short test docs, fatal on book-length ones).
    from .sampling import spread

    # hash-spread the raw (id, text) rows BEFORE tokenizing: the
    # tokenize + ×w explode+md5 — the dominant CPU of the pass —
    # otherwise runs at the granularity of the input splits (ONE task
    # on single-row-group testdata; guide §2.5), and the persist below
    # would materialize single-threaded
    base = spread(df.select(F.col(id_col), F.col(text_col)), id_col).select(
        F.col(id_col), tokens_col(text_col).alias("__toks")
    ).filter(F.size("__toks") >= window)
    grams = (
        base.select(
            F.col(id_col),
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.size("__toks") - window,
                    ),
                    lambda i: F.struct(
                        i.alias("start"),
                        F.md5(
                            F.array_join(
                                F.slice(F.col("__toks"), i + 1, window),
                                " ",
                            )
                        ).alias("gh"),
                    ),
                )
            ).alias("g"),
        )
        .select(
            id_col,
            F.col("g.start").alias("start"),
            F.col("g.gh").alias("gh"),
        )
        # Both consumers (the hot-count agg and the flagged join probe)
        # scan grams; without persist the ×w explode — the dominant CPU
        # cost of the whole pass — runs twice. MEMORY_AND_DISK: gram
        # rows are ~30 bytes, spill is sequential, and on a cluster the
        # same role is played by shuffle-file reuse of a checkpoint.
        .persist()
    )
    hot = (
        grams.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
        .select("gh")
    )
    flagged = grams.join(hot, "gh").select(id_col, "start")
    starts = flagged.groupBy(id_col).agg(
        F.collect_set("start").alias("__starts")
    )
    joined = (
        df.join(starts, id_col, "left")
        .withColumn(
            "__starts",
            F.coalesce("__starts", F.array().cast("array<int>")),
        )
        # same staging rule as above: one split per row, not one per
        # token-position
        .withColumn("__toks", tokens_col(text_col))
    )
    kept_arr = F.filter(
        F.transform(
            F.col("__toks"),
            lambda tok, i: F.struct(tok.alias("t"), i.alias("i")),
        ),
        lambda s: ~F.exists(
            F.col("__starts"),
            lambda st: (st <= s["i"]) & (s["i"] < st + window),
        ),
    )
    return joined.select(
        F.col(id_col),
        F.array_join(
            F.transform(kept_arr, lambda s: s["t"]), " "
        ).alias("text_clean"),
        F.size("__toks").cast("long").alias("n_tokens"),
        (F.size("__toks") - F.size(kept_arr))
        .cast("long")
        .alias("n_removed"),
    )


# --- incremental near-dup index -------------------------------------------

def minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    bands: int = 2,
    shingle_n: int = 3,
) -> DataFrame:
    """The PERSISTENT form of the banded-LSH signatures: one row per
    (doc, band) — ``(id, band_no, band_hash, h0..h{k-1})`` — the table
    a corpus stores so tomorrow's increment can be near-dup-checked
    without ever re-reading today's text. Long form (band exploded)
    because that is the probe's join key: store it partitioned/bucketed
    on (band_no, band_hash) and an increment's probe co-locates.
    Documents too short to shingle (< shingle_n tokens) have no
    signature and are absent, same as the batch LSH path."""
    assert num_hashes % bands == 0
    r = num_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n)
    entries = F.array(
        *[
            F.struct(
                F.lit(b).cast("int").alias("band_no"),
                F.md5(
                    F.concat(*[F.col(f"h{b * r + j}") for j in range(r)])
                ).alias("band_hash"),
            )
            for b in range(bands)
        ]
    )
    return sig.select(
        F.col(id_col),
        F.explode(entries).alias("__e"),
        *[F.col(f"h{j}") for j in range(num_hashes)],
    ).select(
        id_col,
        F.col("__e.band_no").alias("band_no"),
        F.col("__e.band_hash").alias("band_hash"),
        *[F.col(f"h{j}") for j in range(num_hashes)],
    )


def incremental_near_dups(
    index: DataFrame,
    new_docs: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    bands: int = 2,
    shingle_n: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """Near-dup check of an increment against the STORED corpus index —
    the daily-ingest shape at 100 TB: signature cost ∝ the increment,
    the corpus contributes only its (band, hash) index rows (text never
    rescanned), and the probe is a plain equi-join on
    (band_no, band_hash) that AQE broadcasts when the increment is
    small. Returns ``(pairs, new_index_rows)``: pairs =
    (doc_a ∈ stored, doc_b ∈ increment, est_jaccard from signature
    agreement — both sides carry their signatures, so no text join),
    and the increment's own index rows for the caller to append
    (store ∪ new_index_rows IS the next day's index — the same
    content-as-ledger idempotence as the exact-dedup streaming ingest).
    Within-increment duplicates are the existing batch path
    (`lsh_candidate_pairs` on the increment alone)."""
    new_idx = minhash_index(
        new_docs, id_col, text_col, num_hashes, bands, shingle_n
    )
    left = index.select(
        F.col(id_col).alias("doc_a"),
        "band_no",
        "band_hash",
        *[F.col(f"h{j}").alias(f"ha{j}") for j in range(num_hashes)],
    )
    right = new_idx.select(
        F.col(id_col).alias("doc_b"),
        "band_no",
        "band_hash",
        *[F.col(f"h{j}").alias(f"hb{j}") for j in range(num_hashes)],
    )
    agree = sum(
        (F.col(f"ha{j}") == F.col(f"hb{j}")).cast("int")
        for j in range(num_hashes)
    )
    pairs = (
        left.join(right, ["band_no", "band_hash"])
        .dropDuplicates(["doc_a", "doc_b"])
        .select(
            "doc_a",
            "doc_b",
            (agree / F.lit(float(num_hashes))).alias("est_jaccard"),
        )
    )
    return pairs, new_idx


def cosine_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.6,
    shingle_n: int = 3,
) -> DataFrame:
    """Exact binary set-COSINE ≥ t pairs via prefix filtering — the
    AllPairs (Bayardo et al. 2007) similarity the catalog's prefix
    family was missing beside :func:`jaccard_pairs_prefix` (Jaccard)
    and :func:`containment_pairs` (asymmetric): for shingle SETS,
    cos(A,B) = |A∩B| / √(|A|·|B|) — the size-ratio-tolerant symmetric
    score (a doc and its double-length near-copy keep high cosine
    where Jaccard halves).

    Lossless prefix bound: cos ≥ t and |B| ≥ |A∩B| force
    |A∩B| ≥ t²·|A| (|A∩B|² ≥ t²|A||B| ≥ t²|A||A∩B|), so indexing each
    document's p = n − ⌈t²·n⌉ + 1 rarest shingles under the global
    (doc-frequency, shingle) order guarantees every qualifying pair
    shares a prefix element — the oracle is the plain all-shingle
    formulation, so a hash match proves losslessness. Same
    boilerplate-skipping property as the Jaccard form: corpus-common
    shingles sort out of every prefix. Same three-shuffle shape; the
    ⌈⌉ carries the 1e-9 nudge (see jaccard_pairs_prefix: binary
    doubles can land a hair above the true rational product).
    Returns (doc_a, doc_b, cosine ≥ threshold)."""
    from pyspark.sql import Window

    sh = exploded_shingles(df, id_col, text_col, shingle_n).persist()
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    w = Window.partitionBy(id_col).orderBy("__df", "shingle")
    t2 = float(threshold) * float(threshold)
    ranked = (
        sh.join(dfreq, "shingle")
        .withColumn("__rk", F.row_number().over(w))
        .join(sizes, id_col)
    )
    prefix = ranked.filter(
        F.col("__rk")
        <= F.col("n_sh") - F.ceil(F.col("n_sh") * t2 - 1e-9) + 1
    ).select(id_col, "shingle")
    pa = prefix.select(F.col(id_col).alias("doc_a"), "shingle")
    pb = prefix.select(F.col(id_col).alias("doc_b"), "shingle")
    cand = (
        pa.join(pb, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    full_a = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    full_b = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    inter = (
        cand.join(full_a, "doc_a")
        .join(full_b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_inter").cast("double")
                / F.sqrt(
                    F.col("n_a").cast("double") * F.col("n_b").cast("double")
                )
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
