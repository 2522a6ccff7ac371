"""Physical-plan guards: the scale claims (zero-shuffle extraction,
filter pushdown, column pruning, broadcast joins) asserted on
`.explain` output so a regression that silently adds a shuffle or drops
a pushdown fails CI."""

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def node_count(plan: str, name: str) -> int:
    """Count physical nodes by their detail headers '(n) <Name>' —
    the tree section prints every node a second time."""
    n = 0
    for line in plan.splitlines():
        s = line.strip()
        if s.startswith("(") and ") " in s:
            label = s.split(") ", 1)[1]
            if label == name or label.startswith(name + " "):
                n += 1
    return n


def test_extraction_plan_has_no_exchange(spark, sf_small):
    """The core claim: array-input extraction is one narrow stage."""
    from parserpdf_spark.operators.extract import extract_combined

    docs = spark.read.parquet(f"{sf_small}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(
            F.struct(
                F.lit("html").alias("kind"),
                F.lit("<p>x</p>").alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    )
    plan = plan_of(extract_combined(docs))
    assert node_count(plan, "Exchange") == 0
    assert node_count(plan, "BroadcastExchange") == 0
    assert "MapInArrow" in plan


def test_pricing_summary_pushdown_and_pruning(spark, sf_med):
    import __spark_entry__ as m

    plan = plan_of(m.q_pricing_summary(spark, sf_med))
    # the shipdate filter reaches the parquet scan
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    # column pruning: only the 6 needed columns are read
    read_schema = [
        line for line in plan.splitlines() if "ReadSchema" in line
    ][0]
    assert "l_orderkey" not in read_schema
    assert "l_partkey" not in read_schema
    assert "l_extendedprice" in read_schema


def test_dimension_joins_are_broadcast(spark, sf_med):
    import __spark_entry__ as m

    plan = plan_of(m.q_broadcast_join_segments(spark, sf_med))
    assert node_count(plan, "BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in plan
    plan2 = plan_of(m.q_star_join_regions(spark, sf_med))
    assert node_count(plan2, "BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan2


def test_page_filter_stays_array_local(spark, sf_small):
    from parserpdf_spark.operators.extract import extract_combined
    from parserpdf_spark.operators.pages import filter_pages
    from parserpdf_spark.sources.synth import synth_docs_df

    docs = filter_pages(synth_docs_df(spark, sf_small, partitions=4), "0")
    plan = plan_of(extract_combined(docs))
    # one Exchange is the synth scaffold's repartition of the raw text
    # table; page filtering + extraction must not add another
    assert node_count(plan, "Exchange") <= 1


def test_salted_assembly_splits_hot_keys(spark, sf_small):
    """The salted path's plan partially aggregates per (doc_id, salt)
    before the final per-doc merge, and splits giant/normal docs with a
    literal isin predicate (collected skew tail) — no join at all."""
    from parserpdf_spark.operators.skew import assemble_spans, explode_docs
    from parserpdf_spark.sources.synth import synth_docs_df

    exploded = explode_docs(
        synth_docs_df(spark, sf_small, giant_doc_ids=["7"], giant_spans=900,
                      partitions=4)
    )
    plan = plan_of(assemble_spans(exploded, giant_threshold=500, num_salts=4))
    assert "pmod" in plan  # the salt key
    # the split is a literal filter, not a join of the span data
    assert "Join" not in plan


def test_file_ingestion_plan_has_no_exchange(spark):
    """The scan → bridge → extraction path is narrow end-to-end: the
    binaryFile splits ARE the parallelism, nothing shuffles."""
    import os

    from parserpdf_spark.operators.extract import extract_combined
    from parserpdf_spark.sources.files import files_to_docs, ingested_docs
    from parserpdf_spark.sources.scans import scan_files

    fixtures = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "fixtures", "files_corpus",
    )
    files = scan_files(spark, fixtures, "*", with_content=True)
    plan = plan_of(extract_combined(ingested_docs(files_to_docs(files))))
    assert node_count(plan, "Exchange") == 0
    # the bridge's row map, then extraction
    assert node_count(plan, "MapInArrow") == 2

    # the OCR tier keeps the same narrow shape: the recognizer runs
    # inside the bridge's row map, nothing shuffles
    ocr_fixtures = os.path.join(os.path.dirname(fixtures), "ocr_corpus")
    ocr_files = scan_files(spark, ocr_fixtures, "*", with_content=True)
    plan = plan_of(
        extract_combined(ingested_docs(files_to_docs(ocr_files, ocr=True)))
    )
    assert node_count(plan, "Exchange") == 0
    assert node_count(plan, "MapInArrow") == 2


def test_bucketed_embedding_dedup_never_cartesian(spark, sf_med):
    """The SRP scale path must pair ids inside (band, key) buckets and
    verify with equi-joins — a regression to crossJoin/BNLJ is the
    100 TB killer."""
    from parserpdf_spark.operators.dedup import embedding_dup_pairs_bucketed

    emb = spark.read.parquet(f"{sf_med}/embeddings.parquet")
    plan = plan_of(embedding_dup_pairs_bucketed(emb, threshold=0.95))
    assert node_count(plan, "CartesianProduct") == 0
    assert node_count(plan, "BroadcastNestedLoopJoin") == 0


def test_ivf_probe_join_broadcasts_queries(spark, sf_med):
    """The IVF bucket join broadcasts the probe side so the corpus-sized
    assigned table never shuffles for the join."""
    from pyspark.sql import functions as F

    from parserpdf_spark.operators.ann import ann_ivf_topk

    emb = spark.read.parquet(f"{sf_med}/embeddings.parquet")
    df = ann_ivf_topk(emb, emb.filter(F.col("vec_id") < 3), k=3, every=50,
                      n_probe=2)
    assert node_count(plan_of(df), "BroadcastHashJoin") >= 1


def test_decontamination_broadcasts_eval_shingles(spark, sf_med):
    """The eval shingle set is small by construction; the semi-join must
    broadcast it so the exploded TRAIN shingles (the dominant volume at
    100 TB) are never shuffled on the join key."""
    import __spark_entry__ as m

    plan = plan_of(m.q_decontamination(spark, sf_med))
    assert "BroadcastHashJoin" in plan
    # no sort-merge semi-join on the shingle anywhere in the plan
    assert "SortMergeJoin LeftSemi" not in plan


def test_minhash_signatures_zero_shuffle(spark, sf_small):
    """r6: the 64-permutation signature pass is a pure narrow map —
    array-local mins over the per-doc shingle-hash array, with NO
    exploded shuffle and NO aggregate at all."""
    from parserpdf_spark.operators.dedup import minhash_signatures

    docs = spark.read.parquet(f"{sf_small}/documents.parquet").select(
        "doc_id", "text"
    )
    plan = plan_of(minhash_signatures(docs))
    assert node_count(plan, "Exchange") == 0
    assert node_count(plan, "HashAggregate") == 0


def test_aqe_enabled(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_tiny_files_plan_one_wave_of_splits(spark, tmp_path):
    """A table of many tiny files plans spark.default.parallelism splits
    (one wave on the session's cores): a per-core split multiplier would
    pay a fixed task cost per extra split on every stage."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table({"doc_id": ["d"] * 10})
    for i in range(64):
        pq.write_table(table, str(tmp_path / f"part-{i:03d}.parquet"))
    splits = spark.read.parquet(str(tmp_path)).rdd.getNumPartitions()
    assert splits == spark.sparkContext.defaultParallelism


# the two documented brute-force baselines are the ONLY queries allowed
# a cartesian/broadcast-nested-loop pair space
_CARTESIAN_OK = {"embedding_dups", "ann_topk", "ann_ivf_full_probe"}


def test_no_driver_query_is_accidentally_cartesian(spark, sf_small):
    """Plan-hygiene sweep over the whole driver surface: any query that
    grows a CartesianProduct/BroadcastNestedLoopJoin outside the
    documented brute-force baselines is a 100 TB regression."""
    import __spark_entry__ as m

    offenders = {}
    for name, q in m.queries().items():
        if name in _CARTESIAN_OK:
            continue
        plan = q(spark, sf_small)._jdf.queryExecution().executedPlan().toString()
        bad = [
            node for node in ("CartesianProduct", "BroadcastNestedLoopJoin")
            if node in plan
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, f"cartesian pair spaces crept in: {offenders}"


def test_rendered_id_filter_pushes_into_the_scan(spark, tmp_path):
    """String ids are rendered as UTF-8 hex casts; those fold to plain
    literals, so the filter still reaches parquet as ``In(doc_id, …)``."""
    from parserpdf_spark.operators.bounded import filter_ids

    path = str(tmp_path / "ids.parquet")
    spark.createDataFrame(
        [(f"d{i}", i) for i in range(50)], "doc_id string, n int"
    ).write.parquet(path)
    kept = filter_ids(spark.read.parquet(path), "doc_id", ["d3", "it's", "d7"])
    pushed = [ln for ln in plan_of(kept).splitlines() if "PushedFilters" in ln]
    assert pushed and "In(doc_id," in pushed[0]
    assert sorted(r["n"] for r in kept.collect()) == [3, 7]


def test_only_the_bounded_module_collects():
    """Every driver-side collect under operators/ goes through
    ``operators.bounded.collect_bounded``, so each one is bounded by the
    same budget."""
    import ast
    import pathlib

    ops = pathlib.Path(__file__).resolve().parents[1] / "parserpdf_spark" / "operators"
    offenders = []
    for path in sorted(ops.rglob("*.py")):
        if path.name == "bounded.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "collect"
            ):
                offenders.append(f"{path.name}:{node.lineno}")
    assert offenders == []


def test_operators_unpersist_what_they_persist():
    """An operator function that calls ``.persist()`` or ``.cache()`` also
    calls ``.unpersist()``: a cache entry nobody releases lives as long as
    the session, and a later identical plan reads it back."""
    import ast
    import pathlib

    def calls(fn):
        return [
            node for node in ast.walk(fn)
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
        ]

    ops = pathlib.Path(__file__).resolve().parents[1] / "parserpdf_spark" / "operators"
    offenders = []
    for path in sorted(ops.rglob("*.py")):
        for fn in ast.walk(ast.parse(path.read_text())):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            found = calls(fn)
            if any(c.func.attr == "unpersist" for c in found):
                continue
            offenders += [
                f"{path.name}:{c.lineno}"
                for c in found if c.func.attr in ("persist", "cache")
            ]
    assert offenders == []


def _engine_index(*extra):
    """Parse every module under parserpdf_spark/, the entry points and the
    ``extra`` files.  Returns the module → path maps of the engine and of
    the entry points, every parsed module's tree, its top-level
    definitions, the rest of its body, its import aliases, and
    ``resolve`` and ``import_base`` over them."""
    import ast
    import pathlib
    from types import SimpleNamespace

    repo = pathlib.Path(__file__).resolve().parents[1]
    pkg = repo / "parserpdf_spark"

    def module_of(path):
        parts = list(path.relative_to(repo).with_suffix("").parts)
        return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)

    engine = {module_of(p): p for p in pkg.rglob("*.py")}
    roots = [
        repo / "__spark_entry__.py", repo / "bench.py", repo / "bench_extra.py",
        *(repo / "perfbench").glob("*.py"), *(repo / "tools").glob("*.py"),
        *(pkg / "jobs").glob("*.py"), pkg / "_daemon.py",
    ]
    roots = {module_of(p): p for p in roots}
    files = {**roots, **{module_of(p): p for p in extra}, **engine}

    def import_base(node, module):
        if not node.level:
            return node.module
        parts = module.split(".")
        if files[module].name != "__init__.py":
            parts = parts[:-1]
        parts = parts[: len(parts) - node.level + 1]
        return ".".join(parts + ([node.module] if node.module else []))

    trees = {module: ast.parse(path.read_text()) for module, path in files.items()}
    defs = {}  # (module, name) -> its top-level statement
    other = {module: [] for module in files}  # the rest of each module's body
    aliases = {module: {} for module in files}  # local name -> dotted target
    for module, tree in trees.items():
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for alias in node.names:
                    local = alias.asname or alias.name.split(".")[0]
                    target = alias.name if alias.asname else local
                    aliases[module].setdefault(local, target)
            elif isinstance(node, ast.ImportFrom):
                base = import_base(node, module)
                for alias in node.names:
                    aliases[module].setdefault(alias.asname or alias.name,
                                               f"{base}.{alias.name}")
        for node in tree.body:
            if isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = getattr(node, "targets", None) or [node.target]
                # a module dunder (__version__, which _daemon reads as text)
                # is metadata, not code
                names = [n.id for t in targets for n in ast.walk(t)
                         if isinstance(n, ast.Name) and not n.id.startswith("__")]
            elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names = [node.name]
            else:
                names = []
            if names and module in engine:
                defs.update({(module, name): node for name in names})
            else:
                other[module].append(node)

    def resolve(dotted):
        """The module, or the (module, name), a dotted name means."""
        parts = dotted.split(".")
        for i in range(len(parts), 0, -1):
            module = ".".join(parts[:i])
            if module not in files:
                continue
            rest = parts[i:]
            if rest and (module, rest[0]) in defs:
                return [(module, rest[0])]
            if rest and rest[0] in aliases[module]:  # a re-export
                target = aliases[module][rest[0]]
                return [module, *resolve(".".join([target, *rest[1:]]))]
            return [module]
        return []

    return SimpleNamespace(
        engine=engine, roots=roots, files=files, trees=trees,
        defs=defs, other=other, aliases=aliases, resolve=resolve,
        import_base=import_base,
    )


# top-level engine names no entry point reaches that stay anyway, each
# with its reason; what they reach is kept with them
UNREACHED_KEPT = {
    "parserpdf_spark.kernels.html_extract.parse_html_stdlib":
        "the stdlib-parser reference the fast tokenizer is tested against",
    "parserpdf_spark.kernels.jpeg.encode_jpeg_progressive":
        "the writer whose output the progressive decoder is tested against",
    "parserpdf_spark.operators.sinks.export_image_payloads":
        "the reference's image sink (PARITY K2), which no job runs yet",
}


def test_every_engine_module_is_reached_from_an_entry_point():
    """Every module and every top-level name under parserpdf_spark/ is
    reached from an entry point: the driver contract, the benches,
    perfbench, tools, the jobs, or the worker daemon ``session.get_spark``
    names in ``spark.python.daemon.module``.  A name is reached when
    reached code names it (a ``Name``, a dotted ``Attribute`` through an
    imported module, or an import; function-local imports included),
    and a module when it is imported or one of its names is reached,
    which runs its other top-level statements.  Docstrings and comments
    name nothing.  A name that only its own tests use is code no run
    uses; ``UNREACHED_KEPT`` lists the exceptions."""
    import ast

    ix = _engine_index()
    defs, files, aliases, resolve = ix.defs, ix.files, ix.aliases, ix.resolve

    def named(module, node):
        for n in ast.walk(node):
            if isinstance(n, ast.Import):
                for alias in n.names:
                    yield from resolve(alias.name)
            elif isinstance(n, ast.ImportFrom):
                base = ix.import_base(n, module)
                yield from resolve(base)
                for alias in n.names:
                    yield from resolve(f"{base}.{alias.name}")
            elif isinstance(n, (ast.Name, ast.Attribute)):
                chain = []
                while isinstance(n, ast.Attribute):
                    chain.insert(0, n.attr)
                    n = n.value
                if not isinstance(n, ast.Name):
                    continue
                if (module, n.id) in defs:
                    yield (module, n.id)
                elif n.id in aliases[module]:
                    yield from resolve(".".join([aliases[module][n.id], *chain]))

    def reach(todo):
        seen = set()
        while todo:
            item = todo.pop()
            if item in seen:
                continue
            seen.add(item)
            if isinstance(item, tuple):
                todo += [item[0], *named(item[0], defs[item])]
            else:
                parent = item.rpartition(".")[0]
                todo += [parent] if parent in files else []
                todo += [ref for node in ix.other[item] for ref in named(item, node)]
        return seen

    reached = reach(list(ix.roots))
    kept = {tuple(name.rsplit(".", 1)) for name in UNREACHED_KEPT}
    assert sorted(kept & reached) == []  # a reached name needs no exception
    reached |= reach(sorted(kept))
    unreached = [*(set(ix.engine) - reached), *(".".join(d) for d in set(defs) - reached)]
    assert sorted(unreached) == []


# defaulted engine parameters that no caller sets and that stay anyway
UNSET_OPTIONS_KEPT = {
    "parserpdf_spark.session.get_spark.extra_conf":
        "deployment conf; the subprocess tests set it inside script strings",
    "parserpdf_spark.kernels.pdf_crypt.build_decryptor.password":
        "a credential, which a deployment supplies and no fixture needs",
}


def test_every_engine_option_is_set_by_some_caller():
    """Every defaulted parameter of a top-level function under
    parserpdf_spark/ is an option some call uses: a call in an entry
    point, in the engine or in tests/ passes it a value other than its
    default, by keyword, by position or through a caller's own ``**kw``.
    A literal equal to the default sets nothing, and a caller passing on
    its own parameter sets it only if that parameter is set itself,
    iterated to a fixed point.  A value no caller changes is a constant;
    ``UNSET_OPTIONS_KEPT`` lists the exceptions."""
    import ast
    import pathlib

    ix = _engine_index(*pathlib.Path(__file__).parent.glob("*.py"))
    funcs = (ast.FunctionDef, ast.AsyncFunctionDef)

    options = {}  # (module, function) -> ({param: default}, positional names)
    for key, node in ix.defs.items():
        if isinstance(node, funcs):
            a = node.args
            positional = [p.arg for p in a.posonlyargs + a.args]
            defaults = dict(zip(positional[len(positional) - len(a.defaults):],
                                a.defaults))
            defaults.update((p.arg, d) for p, d in zip(a.kwonlyargs, a.kw_defaults)
                            if d is not None)
            options[key] = (defaults, positional)

    local_defs = {
        module: {n.name for n in ast.walk(tree) if isinstance(n, funcs)}
        for module, tree in ix.trees.items()
    }

    def callee_of(module, func):
        """(module, name) of the function a call names: a top-level
        engine function, or any function defined in the calling file."""
        chain = []
        while isinstance(func, ast.Attribute):
            chain.insert(0, func.attr)
            func = func.value
        if not isinstance(func, ast.Name):
            return None
        if (module, func.id) in ix.defs or func.id in local_defs[module]:
            return None if chain else (module, func.id)
        if func.id in ix.aliases[module]:
            hit = ix.resolve(".".join([ix.aliases[module][func.id], *chain]))
            return hit[-1] if hit and isinstance(hit[-1], tuple) else None
        return None

    calls = []  # (callee, call, calling module, defs enclosing it outermost first)

    def walk(module, node, enclosing):
        for child in ast.iter_child_nodes(node):
            inner = enclosing
            if isinstance(child, (*funcs, ast.Lambda)):
                inner = [*enclosing, child]
            elif isinstance(child, ast.Call):
                callee = callee_of(module, child.func)
                if callee:
                    calls.append((callee, child, module, enclosing))
            walk(module, child, inner)

    for module, tree in ix.trees.items():
        walk(module, tree, [])

    def passed(call, module, enclosing, positional):
        """(parameter, value) per argument of ``call``."""
        for name, arg in zip(positional, call.args):
            if isinstance(arg, ast.Starred):
                break
            yield name, arg
        for kw in call.keywords:
            if kw.arg is not None:
                yield kw.arg, kw.value
                continue
            # the enclosing def's own ``**kw`` forwards what its callers
            # pass it by keyword
            owner = next((
                fn for fn in reversed(enclosing)
                if isinstance(fn, funcs) and fn.args.kwarg
                and isinstance(kw.value, ast.Name)
                and fn.args.kwarg.arg == kw.value.id
            ), None)
            if owner is not None:
                yield from (
                    (k.arg, k.value)
                    for callee, c, _, _ in calls if callee == (module, owner.name)
                    for k in c.keywords if k.arg is not None
                )

    def same(value, default):
        try:
            return ast.literal_eval(value) == ast.literal_eval(default)
        except ValueError:  # not a literal
            return False

    def sets(value, module, enclosing, done):
        """Does ``value`` set an option, given the options set so far?  Only
        a caller's own defaulted parameter, passed on, depends on them."""
        if not isinstance(value, ast.Name):
            return True
        for fn in reversed(enclosing):
            if value.id in {a.arg for a in ast.walk(fn.args) if isinstance(a, ast.arg)}:
                key = (module, getattr(fn, "name", None))
                if ix.defs.get(key) is fn and value.id in options[key][0]:
                    return (key, value.id) in done
                return True
        return True

    done = set()
    while True:
        before = len(done)
        for callee, call, module, enclosing in calls:
            if callee not in options:
                continue
            defaults, positional = options[callee]
            for param, value in passed(call, module, enclosing, positional):
                if (param in defaults and not same(value, defaults[param])
                        and sets(value, module, enclosing, done)):
                    done.add((callee, param))
        if len(done) == before:
            break

    unset = sorted(
        f"{module}.{fn}.{param}"
        for (module, fn), (defaults, _) in options.items()
        for param in defaults
        if ((module, fn), param) not in done
    )
    assert sorted(set(UNSET_OPTIONS_KEPT) - set(unset)) == []  # set: no exception
    unused = [name for name in unset if name not in UNSET_OPTIONS_KEPT]
    assert unused == [], "options no caller sets:\n" + "\n".join(unused)


# engine code written twice on purpose, keyed by a name every copy uses,
# each with its reason
DUPLICATES_KEPT = {
    "_REPO_ROOT": "each job's sys.path/PYTHONPATH bootstrap runs before the "
                  "package can be imported, so it cannot live in the package",
}


def test_no_engine_code_is_duplicated():
    """Every statement or expression of at least 30 AST nodes under parserpdf_spark/ occurs once, compared with every
    identifier renamed to one placeholder and every literal kept;
    docstrings and type annotations are left out.  A recurring pattern
    is one helper.  A clone group inside a larger clone is reported only
    as the larger one; ``DUPLICATES_KEPT`` lists the exceptions."""
    import ast
    import collections
    import pathlib

    clone_nodes = 30
    pkg = pathlib.Path(__file__).resolve().parents[1] / "parserpdf_spark"
    bodies = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)

    def strip(tree):
        for node in ast.walk(tree):
            if isinstance(node, bodies) and ast.get_docstring(node, clean=False) is not None:
                node.body = node.body[1:] or [ast.Pass()]
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                node.returns = None
            elif isinstance(node, ast.arg):
                node.annotation = None
        return tree

    def shape(node):
        """The node with every identifier one placeholder, literals kept."""
        if isinstance(node, list):
            return tuple(shape(n) for n in node)
        if not isinstance(node, ast.AST):
            return repr(node)
        return (type(node).__name__, *(
            "_" if isinstance(v, str) and f in ("id", "attr", "arg", "name", "asname")
            else ("_",) * len(v) if f == "names" and all(isinstance(n, str) for n in v)
            else shape(v)
            for f, v in ast.iter_fields(node)
        ))

    groups = collections.defaultdict(list)  # shape -> [(site, node)]
    outer = {}  # node -> the statement or expression that holds it
    for path in sorted(pkg.rglob("*.py")):
        tree = strip(ast.parse(path.read_text()))
        site = path.relative_to(pkg.parent)
        for node in ast.walk(tree):
            for child in ast.iter_child_nodes(node):
                outer[child] = node if isinstance(node, (ast.stmt, ast.expr)) else outer.get(node)
            if isinstance(node, (ast.stmt, ast.expr)) and sum(1 for _ in ast.walk(node)) >= clone_nodes:
                groups[shape(node)].append((f"{site}:{node.lineno}", node))
    shape_of = {id(node): key for key, sites in groups.items() for _, node in sites}
    repeated = {key for key, sites in groups.items() if len(sites) > 1}

    def inside_a_clone(node):
        return shape_of.get(id(outer.get(node))) in repeated

    clones = [
        sites for key, sites in groups.items()
        if key in repeated and not all(inside_a_clone(node) for _, node in sites)
    ]
    kept = collections.Counter()
    found = []
    for sites in clones:
        names = [{n.id for n in ast.walk(node) if isinstance(n, ast.Name)}
                 for _, node in sites]
        reason = next((k for k in DUPLICATES_KEPT if all(k in ns for ns in names)), None)
        if reason:
            kept[reason] += 1
        else:
            found.append(" ".join(sorted(site for site, _ in sites)) + "  "
                         + ast.unparse(sites[0][1]).splitlines()[0])
    assert sorted(set(DUPLICATES_KEPT) - set(kept)) == []  # no clone left: no exception
    assert found == [], "engine code written twice:\n" + "\n".join(sorted(found))
