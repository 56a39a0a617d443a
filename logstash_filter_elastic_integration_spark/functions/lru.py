"""Size-capped least-recently-used dict for the value-keyed compile caches,
so a long-lived driver (a stream, a service) runs in bounded memory."""

from __future__ import annotations

from collections import OrderedDict


class LRU(OrderedDict):
    """A dict holding at most ``cap`` entries; inserting past the cap
    evicts the least recently read or written one."""

    def __init__(self, cap: int):
        super().__init__()
        self.cap = cap

    def get(self, key, default=None):
        if key not in self:
            return default
        self.move_to_end(key)
        return self[key]

    def __setitem__(self, key, value):
        super().__setitem__(key, value)
        self.move_to_end(key)
        while len(self) > self.cap:
            self.popitem(last=False)
