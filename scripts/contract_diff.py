"""Compare the driver contract of two source trees.

For every query that both trees' ``__spark_entry__.queries()`` expose, the
``oracle_sql()`` text and the ``q_*`` callable (its source and bytecode)
must be identical. Prints the removed and added query names and exits
non-zero if a kept query changed or a query was added.

    python scripts/contract_diff.py BASE_TREE HEAD_TREE

Each tree is imported in its own interpreter, so both can be checkouts of
this repository.
"""

from __future__ import annotations

import json
import subprocess
import sys

_DUMP = """
import hashlib, inspect, json, sys
sys.path.insert(0, sys.argv[1])
import __spark_entry__ as e
osql = e.oracle_sql()
json.dump({name: {"q_name": fn.__name__,
                  "q_source": inspect.getsource(fn),
                  "q_code": hashlib.sha256(fn.__code__.co_code).hexdigest(),
                  "oracle": osql.get(name)}
           for name, fn in e.queries().items()}, sys.stdout)
"""


def contract(tree: str) -> dict[str, dict]:
    out = subprocess.run([sys.executable, "-c", _DUMP, tree], check=True,
                         capture_output=True, text=True).stdout
    return json.loads(out)


def main(argv: list[str]) -> int:
    base, head = (contract(t) for t in argv[1:3])
    removed = sorted(set(base) - set(head))
    added = sorted(set(head) - set(base))
    changed = sorted(n for n in head if n in base and head[n] != base[n])
    print(f"base {len(base)} queries, head {len(head)}")
    print(f"removed ({len(removed)}): {', '.join(removed) or '-'}")
    print(f"added ({len(added)}): {', '.join(added) or '-'}")
    print(f"kept and identical (oracle SQL, q_* source and bytecode): "
          f"{len(head) - len(added) - len(changed)} / {len(head)}")
    print(f"changed ({len(changed)}): {', '.join(changed) or '-'}")
    return 1 if changed or added else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
