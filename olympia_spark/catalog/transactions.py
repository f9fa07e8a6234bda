"""Transaction handle + optimistic CAS commit loop (A3-A5, A4/A32).

Lifecycle (reference Olympia.java:65-128):

* begin — find the latest root, snapshot it as both beginning and running
  root, stamp id / TTL / isolation (Olympia.java:65-84).
* catalog ops — mutate the running tree AND append a typed action plus a
  *replay closure* (the Spark-native realization of the reference's
  roll-forward retry: a closure recomputes the op against whatever state
  the retry sees, so e.g. two concurrent INSERTs merge file lists).
* commit — optimistic CAS loop (Olympia.java:86-128): write dirty nodes,
  atomically put root at version v+1; if the seal fails, reload the true
  latest root, analyze pending × committed actions (actions are persisted
  in the newer roots' action rows), and either abort (unresolvable) or
  rebuild the running tree from the new root and replay every op.
* distributed — the handle (roots + actions) persists to
  ``def/dtxn/<id>.json`` and is resumable by another process
  (Olympia.java:130-169, docs/format.md "Distribute a transaction").
"""

from __future__ import annotations

import time
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field

from olympia_spark.catalog import locations as loc
from olympia_spark.catalog.actions import (NO_CONFLICT, UNRESOLVABLE, Action,
                                           analyze_all)
from olympia_spark.catalog.defs import (DistTransactionDef, read_def,
                                        write_def)
from olympia_spark.catalog.errors import (CommitConflictError,
                                          StorageAtomicSealFailureError,
                                          TransactionValueError)
from olympia_spark.catalog.tree import RootNode, Tree

# An op both mutates the running tree and returns the action it performed;
# re-invoked verbatim on commit retry after a resolvable conflict.
TxnOp = Callable[["Transaction"], Action]


@dataclass
class Transaction:
    tree: Tree
    isolation_level: str
    ttl_millis: int
    id: str = field(default_factory=lambda: str(uuid.uuid4()))
    began_at_millis: int = field(
        default_factory=lambda: int(time.time() * 1000))
    beginning_root: RootNode | None = None
    running_root: RootNode | None = None
    # version of the root the running tree is based on; the CAS targets
    # base_version + 1 and only ever advances through conflict resolution
    base_version: int = 0
    read_actions: list = field(default_factory=list)    # list[Action]
    write_actions: list = field(default_factory=list)   # list[Action]
    ops: list = field(default_factory=list)             # list[TxnOp]
    committed: bool = False
    read_only: bool = False
    # a resumed distributed transaction: its handle's saved running root
    # and how many leading ops replay from action payloads (set on load)
    resumed_root_path: str = ""
    resumed_ops: int = 0

    @property
    def actions(self) -> list:
        return self.read_actions + self.write_actions

    def record_read(self, action: Action) -> None:
        self.read_actions.append(action)

    def apply(self, op: TxnOp) -> None:
        """Run a write op now and remember it for replay on retry."""
        if self.read_only:
            raise TransactionValueError("transaction is read-only")
        if self.committed:
            raise TransactionValueError("transaction already committed")
        self.write_actions.append(op(self))
        self.ops.append(op)

    def check_ttl(self) -> None:
        if int(time.time() * 1000) > self.began_at_millis + self.ttl_millis:
            raise TransactionValueError(
                f"transaction {self.id} expired (ttl {self.ttl_millis}ms)")


def begin(tree: Tree, isolation_level: str, ttl_millis: int,
          at_root: RootNode | None = None, read_only: bool = False
          ) -> Transaction:
    """A3 — snapshot the latest (or a given time-travel) root twice:
    one pristine beginning root, one mutable running root."""
    beginning = at_root or tree.load_latest_root()
    running = tree.load_root(beginning.path)
    running.actions = []
    return Transaction(tree=tree, isolation_level=isolation_level,
                       ttl_millis=ttl_millis, beginning_root=beginning,
                       running_root=running, read_only=read_only,
                       base_version=beginning.version)


def commit(txn: Transaction, max_retries: int = 10) -> RootNode:
    """A4 — the optimistic CAS loop (Olympia.java:86-128)."""
    if txn.committed:
        raise TransactionValueError("transaction already committed")
    txn.check_ttl()
    if not txn.write_actions:
        txn.committed = True           # read-only commit is a no-op
        return txn.running_root
    tree = txn.tree
    for _ in range(max_retries):
        # CAS target: exactly one above the version our tree is based on —
        # if that file exists, someone committed first and we must resolve.
        target_version = txn.base_version + 1
        root = txn.running_root
        root.previous_root_path = loc.root_node_path(target_version - 1)
        root.actions = [(a.object_key, a.to_json()) for a in txn.actions]
        try:
            tree.write_root(root, target_version)
            tree.try_write_latest_hint(target_version)
            txn.committed = True
            return root
        except StorageAtomicSealFailureError:
            _resolve_or_raise(txn, target_version)
    raise CommitConflictError(
        f"commit failed after {max_retries} CAS attempts")


def _resolve_or_raise(txn: Transaction, lost_version: int) -> None:
    """Conflict resolution after a lost CAS (TreeOperations.java:944-967
    + AnalyzeActionConflicts): gather every action committed since our
    beginning root, run the matrix, and on success rebuild the running
    tree from the new latest root and replay all ops."""
    tree = txn.tree
    latest = tree.load_latest_root()
    committed_actions: list[Action] = []
    node = latest
    base_version = txn.base_version
    while node.version > base_version:
        committed_actions.extend(
            Action.from_row(k, v) for k, v in node.actions)
        if not node.previous_root_path:
            break
        node = tree.load_root(node.previous_root_path)
    verdict = analyze_all(txn.actions, committed_actions,
                          txn.isolation_level)
    if verdict == UNRESOLVABLE:
        raise CommitConflictError(
            f"unresolvable conflict between transaction {txn.id} and "
            f"versions {base_version + 1}..{latest.version}")
    # no-conflict or resolvable: roll forward — replay ops on latest state
    _rebuild(txn, tree.load_root(latest.path), txn.ops)


def roll_back_to(txn: Transaction, n_ops: int) -> None:
    """Undo every op after the first ``n_ops``: rebuild the running tree
    from the base root, or a resumed distributed transaction's from its
    saved running root (its payload-replay ops re-run only inserts),
    and replay only the earlier ops."""
    root = txn.tree.load_root(txn.resumed_root_path
                              or loc.root_node_path(txn.base_version))
    if txn.resumed_root_path:
        root.path, root.dirty = txn.beginning_root.path, True
    _rebuild(txn, root, txn.ops[txn.resumed_ops:n_ops], txn.resumed_ops)


def _rebuild(txn: Transaction, root: RootNode, ops: list,
             kept: int = 0) -> None:
    """Make ``root`` the running tree, keep the first ``kept`` ops (their
    effect is in ``root``) and re-apply ``ops`` — the one rebuild of
    conflict resolution and :func:`roll_back_to`. If an op raises, the
    transaction is left as it was."""
    before = vars(txn).copy()
    root.actions = []
    txn.running_root, txn.base_version = root, root.version
    txn.write_actions, txn.ops = txn.write_actions[:kept], txn.ops[:kept]
    try:
        for op in ops:
            txn.apply(op)
    except BaseException:
        vars(txn).update(before)
        raise


# --- distributed transactions (A5) ------------------------------------------

def save_dist_transaction(txn: Transaction,
                          suffix: str = loc.DEF_FILE_SUFFIX) -> str:
    """Persist the handle: running tree nodes (unversioned root at a
    node/ path) + DistTransactionDef (Olympia.java:130-147)."""
    tree = txn.tree
    created = int(time.time() * 1000)
    root = txn.running_root
    # serialize dirty subtree + root itself to unversioned node files
    running_path = loc.new_node_path()
    tree.write_dirty_children(root, created)
    root.actions = [(a.object_key, a.to_json()) for a in txn.actions]
    tree.storage.write_atomic(running_path,
                              tree._serialize_rows(root, created))
    d = DistTransactionDef(
        id=txn.id, isolation_level=txn.isolation_level,
        beginning_root_path=txn.beginning_root.path,
        running_root_path=running_path,
        began_at_millis=txn.began_at_millis,
        expire_at_millis=txn.began_at_millis + txn.ttl_millis,
        actions=[[a.object_key, a.to_json()] for a in txn.actions])
    path = loc.dist_txn_def_path(txn.id, suffix)
    tree.storage.overwrite(path, write_def(d, path))
    return path


def dist_transaction_exists(tree: Tree, txn_id: str,
                            suffix: str = loc.DEF_FILE_SUFFIX) -> bool:
    return tree.storage.exists(loc.dist_txn_def_path(txn_id, suffix))


def load_dist_transaction(tree: Tree, txn_id: str,
                          suffix: str = loc.DEF_FILE_SUFFIX
                          ) -> Transaction:
    """Resume in any process (Olympia.java:149-169). Replay closures are
    process-local and cannot be serialized, so a resumed transaction that
    loses its CAS replays from the *action payloads* instead (the catalog
    layer installs payload-replay ops for the write actions it knows how
    to re-apply; anything else makes a lost CAS unresolvable)."""
    dpath = loc.dist_txn_def_path(txn_id, suffix)
    d = read_def(tree.storage.read(dpath), dpath)
    beginning = tree.load_root(d.beginning_root_path)
    running = tree.load_root(d.running_root_path)
    running.path = beginning.path   # commit targets version paths
    running.dirty = True
    running.actions = []
    txn = Transaction(
        tree=tree, isolation_level=d.isolation_level,
        ttl_millis=d.expire_at_millis - d.began_at_millis,
        id=d.id, began_at_millis=d.began_at_millis,
        beginning_root=beginning, running_root=running,
        base_version=beginning.version,
        resumed_root_path=d.running_root_path, resumed_ops=len(d.actions))
    txn.write_actions = [Action.from_row(k, v) for k, v in d.actions]
    return txn

