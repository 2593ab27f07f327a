"""Serve ``webextract.serve.ExtractServer`` with library defaults on an
ephemeral localhost port; prints the port, then serves until stdin
closes.

    python3 perfbench/serve_child.py <checkout root>
"""

import sys

sys.path.insert(0, sys.argv[1])

from webextract.serve import ExtractServer  # noqa: E402

server = ExtractServer()
print(server.start(), flush=True)
sys.stdin.read()
server.close()
