"""Tiny stdlib DOM for the parse stage (no lxml in this container).

Builds a lightweight element tree from HTML via html.parser, with just
enough traversal (children, text nodes, class/id/href attrs) to express
the reference's extraction grammar (spiders/base.py:42-234).
"""

from __future__ import annotations

from html.parser import HTMLParser


class Node:
    __slots__ = ("tag", "attrs", "children", "parent")

    def __init__(self, tag: str, attrs: dict | None = None, parent: "Node | None" = None):
        self.tag = tag
        self.attrs = attrs or {}
        self.children: list[Node | str] = []
        self.parent = parent

    # ------------------------------------------------------- traversal
    def iter(self):
        # explicit-stack preorder: one generator frame for the whole
        # walk instead of a `yield from` chain per tree level (the
        # delegated-generator version was ~15% of total parse time)
        stack = [self]
        pop = stack.pop
        while stack:
            node = pop()
            yield node
            children = node.children
            for i in range(len(children) - 1, -1, -1):
                child = children[i]
                if child.__class__ is not str:
                    stack.append(child)

    def find_all(self, tag: str | None = None, cls: str | None = None):
        for node in self.iter():
            if node is self:
                continue
            if tag is not None and node.tag != tag:
                continue
            if cls is not None and cls not in (node.attrs.get("class") or "").split():
                continue
            yield node

    def find(self, tag: str | None = None, cls: str | None = None):
        return next(self.find_all(tag, cls), None)

    def child_elements(self):
        return [c for c in self.children if isinstance(c, Node)]

    def all_text(self):
        """All descendant text nodes, document order."""
        out = []
        for node in self.iter():
            for child in node.children:
                if isinstance(child, str):
                    out.append(child)
        return out


class _Builder(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.root = Node("#document")
        self.stack = [self.root]

    def handle_starttag(self, tag, attrs):
        node = Node(tag, dict(attrs), self.stack[-1])
        self.stack[-1].children.append(node)
        if tag not in ("br", "img", "hr", "meta", "link", "input"):
            self.stack.append(node)

    def handle_startendtag(self, tag, attrs):
        self.stack[-1].children.append(Node(tag, dict(attrs), self.stack[-1]))

    def handle_endtag(self, tag):
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                break

    def handle_data(self, data):
        if data:
            self.stack[-1].children.append(data)


def parse_html(html: str) -> Node:
    builder = _Builder()
    builder.feed(html or "")
    return builder.root
