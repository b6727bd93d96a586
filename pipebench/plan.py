"""Seeded inputs and op sequences for the three workloads.

Everything a run does is decided here from (workload, seed, seconds):
the same arguments always give the same plan. The harness only
executes the plan; the expected outputs computed here are the
independent side of each output check.
"""
import hashlib
import json
import os
import random

import stats

# Op counts are functions of the arguments only, never of measured
# speed, so a faster program finishes the same ops sooner. The service
# window holds ops per second of --seconds, set so it lasts about
# --seconds on a 4-core host, in passes of SERVICE_PASS_PER_CLIENT ops
# per client, each with the same mix; the bulk and query windows hold
# fixed op counts (two passes of 3 ops of 1.3-3.5 s, and three passes of
# 10 queries).
SERVICE_OPS_PER_CLIENT_PER_S = 3.5
SERVICE_CLIENTS = 2
SERVICE_PASS_PER_CLIENT = 28
SERVICE_WARMUP_PER_CLIENT = 20
BULK_WARMUP_OPS = 2
BULK_PASS_OPS = 3
BULK_PASSES = 2
BULK_DOCS = 1500
QUERY_SF = "sf0.01"
# One pass over all 56 queries takes 35-60 s on 4 cores, and a query's
# first run in a fresh JVM costs up to twice a warm one (the JIT,
# Spark's planner and whole-stage codegen, first parquet reads). A
# warm-up pass and a measured pass of the whole battery would take more
# than the run budget allows next to the other two workloads. So a run
# uses a fixed eighth of the battery, every eighth query of each family
# in name order from the first (`window_queries`, 10 queries from all
# six families): two passes of it as warm-up, then three passes as the
# window, each pass in its own seeded order. After one warm-up pass a
# query's first run in the window was still up to 1.9 times its third;
# after two they agree within the noise. With every query three times in
# the window, the tail falls inside one query's cluster of latencies
# instead of between two queries of different cost.
QUERY_WARMUP_PASSES = 2
QUERY_WINDOW_PASSES = 3

HERE = os.path.dirname(os.path.abspath(__file__))


def words(rng, n):
    """n distinct pronounceable lowercase words."""
    out, seen = [], set()
    while len(out) < n:
        w = "".join(rng.choice("bdfgklmnprstvz") + rng.choice("aeiou")
                    for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


# --------------------------------------------------------------- service
TEXT_SPEC = {
    "slug": "fanout-text", "title": "Fan-out text",
    "description": "Expand a topic into items with the chat model and join the replies",
    "blocks": [
        {"id": "openai_chat_completion", "slug": "seed",
         "description": "Ask the chat model for a titled item list",
         "input": {"response_format": "json"}},
        {"id": "openai_chat_completion", "slug": "expand",
         "description": "One chat reply per item, fanned out in parallel",
         "input_config": {"type": "array", "parallel": True, "property": {
             "user_prompt": {"origin": "seed", "json_path": "$.items[*]"}}}},
        {"id": "join_strings", "slug": "gather",
         "description": "Fan the replies back in as one string",
         "input": {"separator": "|"},
         "input_config": {"property": {
             "strings": {"origin": "expand", "array_input": True}}}},
        {"id": "wrap_text", "slug": "frame",
         "description": "Frame the joined replies in angle brackets",
         "input": {"prefix": "<", "suffix": ">"},
         "input_config": {"property": {"text": {"origin": "gather"}}}},
        {"id": "text_replace", "slug": "mark",
         "description": "Replace the reply marker in the framed text",
         "input": {"old": "re:", "new": "R"},
         "input_config": {"property": {"text": {"origin": "frame"}}}},
    ],
}

IMAGE_SPEC = {
    "slug": "fanout-image", "title": "Fan-out images",
    "description": "Render one image per item, resize them on Spark, caption the set",
    "blocks": [
        {"id": "openai_chat_completion", "slug": "seed",
         "description": "Ask the chat model for a titled item list",
         "input": {"response_format": "json"}},
        {"id": "openai_image_request", "slug": "render",
         "description": "One generated image per item, fanned out in parallel",
         "input_config": {"type": "array", "parallel": True, "property": {
             "prompt": {"origin": "seed", "json_path": "$.items[*]"}}}},
        {"id": "image_resize", "slug": "resize",
         "description": "Resize every rendered image as one Spark stage",
         "input": {"width": 24, "height": 16},
         "input_config": {"type": "array", "property": {
             "image": {"origin": "render"}}}},
        {"id": "wrap_text", "slug": "caption",
         "description": "Caption the set with the title from the seed reply",
         "input": {"prefix": "img:"},
         "input_config": {"property": {
             "text": {"origin": "seed", "json_path": "$.title"}}}},
    ],
}

# spec slug -> (final block, middle block a resume restarts at, image block)
SERVICE_SHAPE = {
    "fanout-text": ("mark", "gather", ""),
    "fanout-image": ("caption", "resize", "resize"),
}
IMAGE_DIMS = "24x16"
RESUME_WIDTHS = [4, 12, 8, 16, 2, 10]


def service_expect(slug, title, items):
    """What the final block must hold for a start with these inputs."""
    if slug == "fanout-text":
        return "<" + "|".join("R" + it for it in items) + ">"
    return "img:" + title


def service_shape(rng, n, fresh, top=0):
    """The kind, spec and width of each of n ops, in order: a quarter of
    them resumes, the rest starts. Every client runs the same shape, with
    its own words, so the two clients' ops pair up and overlap the same
    way whatever the seed, instead of a wide op of one client meeting a
    narrow or a wide op of the other by chance.

    The mix is fixed and only its order depends on the seed: starts
    alternate between the two specs and their fan-out widths cycle
    through 1..16, and resumes alternate between the specs and aim at a
    fixed cycle of widths, so every seed asks for the same amount of
    work. With `fresh`, the first op is a start: it has nothing to
    resume. With `top`, the widths count down from `top` instead: the
    warm-up runs the window's widest fan-outs, so the thread pools and
    the code they need are warm before the window; a window whose first
    wide op was also the first of the run put it in the tail."""
    n_resume = n // 4
    starts = [(sorted(SERVICE_SHAPE)[k % 2], top - (k // 2) % top if top else (k // 2) % 16 + 1)
              for k in range(n - n_resume)]
    rng.shuffle(starts)
    kinds = ["start"] * len(starts) + ["resume"] * n_resume
    rng.shuffle(kinds)
    if fresh:
        kinds.remove("start")
        kinds.insert(0, "start")
    shape, k = [], 0
    for kind in kinds:
        if kind == "resume":
            shape.append(("resume", sorted(SERVICE_SHAPE)[k % 2],
                          RESUME_WIDTHS[k % len(RESUME_WIDTHS)]))
            k += 1
        else:
            shape.append(("start",) + starts.pop())
    return shape


def service_ops(rng, seed, client, shape, prefix, history):
    """One client's ops of the given shape. A resume restarts the
    client's own latest earlier start of its spec whose width is nearest
    to the shape's."""
    ops = []
    for i, (kind, slug, width) in enumerate(shape):
        oid = f"{prefix}{client}-{i}"
        if kind == "resume":
            ref = min((h for h in history if h["spec"] == slug),
                      key=lambda h: abs(h["width"] - width), default=history[0])
            final, middle, images = SERVICE_SHAPE[ref["spec"]]
            ops.append({"id": oid, "kind": "resume", "spec": ref["spec"],
                        "pid": ref["pid"], "from": middle, "final": final,
                        "images": images, "expect": ref["expect"],
                        "expect_images": ref["expect_images"]})
            continue
        title, *stems = words(rng, 1 + width)
        items = [f"{w}{k}" for k, w in enumerate(stems)]
        final, _, images = SERVICE_SHAPE[slug]
        op = {"id": oid, "kind": "start", "spec": slug, "width": width,
              "pid": f"s{seed}-{oid}", "from": "",
              "input": {"user_prompt": f"list:{title}:{','.join(items)}"},
              "final": final, "images": images,
              "expect": service_expect(slug, title, items),
              "expect_images": [IMAGE_DIMS] * width if images else []}
        ops.append(op)
        history.insert(0, op)  # latest first, so ties go to the latest
    return ops


def service_plan(seed, seconds):
    rng = random.Random(f"pipeline_service/{seed}")
    passes = max(1, round(seconds * SERVICE_OPS_PER_CLIENT_PER_S / SERVICE_PASS_PER_CLIENT))
    shapes = [service_shape(rng, SERVICE_PASS_PER_CLIENT, fresh=False) for _ in range(passes)]
    warm_shape = service_shape(rng, SERVICE_WARMUP_PER_CLIENT, fresh=True,
                               top=max(w for k, _, w in shapes[0] if k == "start"))
    warmup, window = [], []
    for c in range(SERVICE_CLIENTS):
        history = []
        warmup.append(service_ops(rng, seed, c, warm_shape, "w", history))
        window.append([op for p, shape in enumerate(shapes)
                       for op in service_ops(rng, seed, c, shape, f"c{p}.", history)])
    return {"specs": [TEXT_SPEC, IMAGE_SPEC],
            "watch": sorted({s for shape in SERVICE_SHAPE.values() for s in shape if s}),
            "timeout_ms": 60000, "warmup": warmup, "clients": window,
            "passes": [[op["id"] for c in window for op in c if op["id"].startswith(f"c{p}.")]
                       for p in range(passes)]}


# ------------------------------------------------------------------ bulk
BULK_SPEC = {
    "slug": "bulk-text", "title": "Bulk text",
    "description": "Split documents into parts, rewrite every part, join them all",
    "blocks": [
        {"id": "wrap_text", "slug": "split",
         "description": "One row per document part, each wrapped in parentheses",
         "input": {"prefix": "(", "suffix": ")"},
         "input_config": {"type": "array", "property": {
             "text": {"origin": "src", "json_path": "$.parts[*]"}}}},
        {"id": "text_replace", "slug": "upper",
         "description": "Upper-case every letter a in each part",
         "input": {"old": "a", "new": "A"},
         "input_config": {"type": "array", "property": {"text": {"origin": "split"}}}},
        {"id": "text_replace", "slug": "swap",
         "description": "Swap every letter e for the configured marker",
         "input": {"old": "e", "new": "3"},
         "input_config": {"type": "array", "property": {"text": {"origin": "upper"}}}},
        {"id": "join_strings", "slug": "join",
         "description": "Fan every rewritten part in to one string",
         "input": {"separator": " "},
         "input_config": {"property": {
             "strings": {"origin": "swap", "array_input": True}}}},
    ],
}
BULK_EDITED = "swap"


def bulk_expect(docs, new):
    """sha256 of the final stage, computed directly from the corpus."""
    parts = (p for d in docs for p in json.loads(d)["parts"])
    out = " ".join(("(" + p + ")").replace("a", "A").replace("e", new) for p in parts)
    return hashlib.sha256(out.encode("utf-8")).hexdigest()


def bulk_plan(seed):
    rng = random.Random(f"bulk_pipeline/{seed}")
    vocab = words(rng, 400)
    docs = [json.dumps({"parts": [" ".join(rng.choice(vocab) for _ in range(rng.randint(3, 8)))
                                  for _ in range(rng.randint(1, 8))]})
            for _ in range(BULK_DOCS)]
    markers = ["E", "_e_", "ee", "<e>", "%"]

    def ops(prefix, n):
        """Cycles of one fresh run and two resumes, each resume with
        another edit of the middle block."""
        out, new = [], "3"
        for i in range(n):
            new = "3" if i % 3 == 0 else rng.choice([m for m in markers if m != new])
            out.append({"id": f"{prefix}{i}", "kind": "fresh" if i % 3 == 0 else "resume",
                        "new": new, "edit": {"new": new}})
        return out

    warmup = ops("w", BULK_WARMUP_OPS)
    window = ops("b", BULK_PASS_OPS * BULK_PASSES)
    expect = {m: bulk_expect(docs, m) for m in {op["new"] for op in warmup + window}}
    for op in warmup + window:
        op["expect"] = expect[op.pop("new")]
    return {"corpus": docs, "spec": BULK_SPEC, "edited_block": BULK_EDITED,
            "warmup": warmup, "ops": window,
            "passes": [[op["id"] for op in window[p:p + BULK_PASS_OPS]]
                       for p in range(0, len(window), BULK_PASS_OPS)]}


# --------------------------------------------------------------- queries
def query_digests():
    with open(os.path.join(HERE, f"digests_{QUERY_SF}.json")) as f:
        return json.load(f)


def window_queries():
    """The fixed eighth of the battery a run uses: the 1st, 9th, 17th,
    ... query of each family in name order."""
    fams = {}
    for q in sorted(query_digests()):
        fams.setdefault(stats.family(q), []).append(q)
    return sorted(q for qs in fams.values() for q in qs[::8])


def query_plan(seed, sf_root):
    rng = random.Random(f"query_battery/{seed}")

    def passes(prefix, n, queries):
        out = []
        for p in range(n):
            order = queries[:]
            rng.shuffle(order)
            out += [{"id": f"{prefix}{p}-{i}", "query": q} for i, q in enumerate(order)]
        return out

    return {"sf_dir": os.path.join(sf_root, QUERY_SF),
            "warmup": passes("w", QUERY_WARMUP_PASSES, window_queries()),
            "ops": passes("p", QUERY_WINDOW_PASSES, window_queries())}


def make(workload, seed, seconds, cores, sf_root):
    if workload == "pipeline_service":
        plan = service_plan(seed, seconds)
    elif workload == "bulk_pipeline":
        plan = bulk_plan(seed)
    elif workload == "query_battery":
        plan = query_plan(seed, sf_root)
    else:
        raise ValueError(f"unknown workload {workload}")
    plan.update(workload=workload, seed=seed, cores=cores)
    return plan
