"""Non-recursive tree fold (explicit stack), so deeply nested DOMs cannot
overflow the Python stack.  Re-derives `tree_map_reduce`
(/root/reference/src/lib.rs:1371-1448)."""

from __future__ import annotations

FINISHED = 0
PENDING = 1
NOTHING = 2


class Pending:
    """A node whose children are still to be processed; the fold keeps it
    as the node's frame (its results so far and the children left)."""

    __slots__ = ("children", "cons", "prefn", "postfn", "results", "to_process")

    def __init__(self, children, cons, prefn=None, postfn=None):
        self.children = children
        self.cons = cons
        self.prefn = prefn
        self.postfn = postfn


class Finished:
    __slots__ = ("result",)

    def __init__(self, result):
        self.result = result


NOTHING_SENTINEL = object()


def tree_map_reduce(context, top, process_node):
    """process_node(context, node) -> Finished | Pending | None (= Nothing).

    A `cons` callback returns NOTHING_SENTINEL to produce no result (the
    Rust `Ok(None)`); any other return value — including Python None — is a
    real result appended to the parent (the Rust `Ok(Some(r))`, where `r`
    itself may be an Option).
    """
    last = Pending([top], lambda ctx, cs: cs.pop() if cs else NOTHING_SENTINEL)
    last.results = []
    last.to_process = iter(last.children)
    pending_stack = []
    finished_cls = Finished  # local binds: this loop runs per DOM/render node
    while True:
        prefn = last.prefn
        postfn = last.postfn
        results = last.results
        for h in last.to_process:
            if prefn is not None:
                prefn(context, h)
            res = process_node(context, h)
            if res is None:
                continue
            if res.__class__ is finished_cls:
                r = res.result
                if postfn is not None:
                    postfn(context, r)
                results.append(r)
            else:
                pending_stack.append(last)
                res.results = []
                res.to_process = iter(res.children)
                last = res
                break
        else:
            if pending_stack:
                parent = pending_stack.pop()
                node = last.cons(context, results)
                if node is not NOTHING_SENTINEL:
                    if parent.postfn is not None:
                        parent.postfn(context, node)
                    parent.results.append(node)
                last = parent
                continue
            result = last.cons(context, results)
            return None if result is NOTHING_SENTINEL else result
