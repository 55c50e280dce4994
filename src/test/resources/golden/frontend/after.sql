\set ON_ERROR_STOP
\set ECHO all
BEGIN;
DROP CAST (varchar as date);
DROP CAST (varchar as timestamp with time zone);
DROP CAST (varchar as uuid);
UPDATE pg_cast SET castcontext='e' WHERE castsource='character varying'::regtype AND casttarget='xml'::regtype;
SELECT setval(pg_get_serial_sequence('public.customer', 'customerid'), coalesce((SELECT max(customerid) FROM public.customer), 1), true);
CREATE SEQUENCE public.invoiceseq START WITH 1000 INCREMENT BY 1 MINVALUE 1 MAXVALUE 9223372036854775807 CACHE 50;
ALTER TABLE sales.orderheader ADD CONSTRAINT pk_orderheader PRIMARY KEY (ordercode);
ALTER TABLE sales.orderline ADD CONSTRAINT pk_orderline PRIMARY KEY (ordercode, lineno);
ALTER TABLE public.customer ADD CONSTRAINT pk_customer PRIMARY KEY (customerid);
ALTER TABLE public.document ADD CONSTRAINT pk_document PRIMARY KEY (docid);
ALTER TABLE public.customer ADD CONSTRAINT uq_customer_email UNIQUE (email);
CREATE UNIQUE INDEX ux_customer_name ON public.customer (lastname, firstname);
ALTER TABLE sales.orderheader ADD CONSTRAINT fk_orderheader_customer FOREIGN KEY (customerid) REFERENCES public.customer (customerid) ON DELETE CASCADE;
ALTER TABLE sales.orderline ADD CONSTRAINT fk_orderline_header FOREIGN KEY (ordercode) REFERENCES sales.orderheader (ordercode);
ALTER TABLE sales.orderline ALTER COLUMN qty SET DEFAULT 1;
ALTER TABLE public.customer ALTER COLUMN isactive SET DEFAULT true;
ALTER TABLE public.customer ALTER COLUMN balance SET DEFAULT 0.00;
ALTER TABLE public.customer ALTER COLUMN nickname SET DEFAULT 'none';
COMMENT ON TABLE public.customer IS 'People who buy; it''s the core table';
COMMENT ON COLUMN public.customer.email IS 'Primary e-mail';
COMMIT;
